package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.ColumnOps.idiv
import graft.model.Tables
import graft.operators.SaltedJoin
import graft.queries.VectorQueries.groupedTopK
import Protocol._

/** Scale-lever operations a 100 TB training-data pipeline leans on, each
  * expressed as a gate query so its semantics are oracle-checked, not just
  * asserted in tests (SURVEY §2.2 [EXT] + §7.4):
  *
  *  - pivot / unpivot (wide↔long reshaping of aggregates)
  *  - deterministic hash splits (reproducible train/eval partitioning — at
  *    scale you NEVER sample with RNG state, you hash a stable key)
  *  - per-group uniform k-samples via smallest-hash ranking
  *  - exact distributed percentiles (approx_percentile's oracle twin)
  *  - bucketed co-located joins (exchange-free at any scale; plan asserted
  *    in ScaleOpsSpec, row-correctness asserted here)
  *  - partition-pruned reads of date-partitioned layouts
  *  - salted skew-proof aggregation (SaltedJoin.skewProofCount through the
  *    gate, not just its unit test)
  */
object ScaleQueries extends QueryModule {

  /** Deterministic [0,100) bucket from a stable key: first 8 md5 hex chars
    * as an integer, mod 100. Reproducible in any engine; no RNG state.
    */
  private def hashBucket(key: org.apache.spark.sql.Column) =
    graft.functions.ColumnOps.hexLong(md5(key), 1, 8) % 100

  override val declared: Seq[Declared] = Seq(

    // q49 — pivot: order totals by month × status, wide. Fixed value list
    // (F/O/P) so the output schema is static — at scale you never let
    // pivot() run its implicit DISTINCT collect over the pivot column.
    Declared("q49_pivot",
      (s, dir) => {
        Tables.load(s, dir, "orders")
          .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
          .pivot("o_orderstatus", Seq("F", "O", "P"))
          .agg(sum(dec(col("o_totalprice"))))
          .select(col("ym"), out6(col("F")).as("F"), out6(col("O")).as("O"),
            out6(col("P")).as("P"))
          .orderBy(col("ym"))
      },
      Some("""SELECT strftime(o_orderdate, '%Y-%m') AS ym,
             |  CAST(ROUND(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,6)) END), 6) AS DECIMAL(18,6)) AS "F",
             |  CAST(ROUND(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,6)) END), 6) AS DECIMAL(18,6)) AS "O",
             |  CAST(ROUND(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,6)) END), 6) AS DECIMAL(18,6)) AS "P"
             |FROM orders GROUP BY 1 ORDER BY ym""".stripMargin)),

    // q50 — deterministic train/eval split: hash a stable composite key,
    // bucket < 90 → train. The split is a pure function of the data, so it
    // reproduces across runs, engines, and re-partitioning — the only safe
    // way to split 100 TB.
    Declared("q50_hash_split",
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
        val key = concat(col("l_orderkey").cast("string"), lit(":"),
          col("l_linenumber").cast("string"))
        li.withColumn("split",
            when(hashBucket(key) < 90, lit("train")).otherwise(lit("eval")))
          .groupBy(col("split"))
          .agg(big(count(lit(1))).as("n"),
            out6(sum(dec(col("l_extendedprice")))).as("sum_price"))
          .orderBy(col("split"))
      },
      Some("""SELECT CASE WHEN CAST(('0x' || substr(md5(l_orderkey::VARCHAR || ':' || l_linenumber::VARCHAR), 1, 8)) AS BIGINT) % 100 < 90
             |  THEN 'train' ELSE 'eval' END AS split,
             |  COUNT(*) AS n,
             |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))), 6) AS DECIMAL(18,6)) AS sum_price
             |FROM lineitem GROUP BY 1 ORDER BY split""".stripMargin)),

    // q51 — per-group uniform 20-sample by smallest-hash ranking: order each
    // group by md5(stable id) and keep the first k — a uniform sample that
    // is deterministic AND scalable (groupedTopK pre-ranks per partition, so
    // ≤ k·partitions rows reach the exchange; no RNG, no reservoir state).
    Declared("q51_group_sample",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
          .select(col("event_type"), col("event_id"),
            md5(col("event_id").cast("string")).as("h"))
        groupedTopK(ev, "event_type", 20, Seq(col("h"), col("event_id")))
          .select(col("event_type"), col("rn"), col("event_id"))
          .orderBy(col("event_type"), col("rn"))
      },
      Some("""SELECT event_type, rn, event_id FROM (
             |  SELECT event_type, event_id,
             |    ROW_NUMBER() OVER (PARTITION BY event_type
             |      ORDER BY md5(event_id::VARCHAR), event_id) AS rn
             |  FROM events)
             |WHERE rn <= 20 ORDER BY event_type, rn""".stripMargin)),

    // q52 — exact distributed percentiles per group (the oracle twin of
    // approx_percentile: same quantile definition, continuous
    // interpolation). The approximate sketch path is bound-checked in
    // ScaleOpsSpec against these exact values.
    Declared("q52_percentiles",
      (s, dir) => {
        Tables.load(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            out6(percentile(col("l_quantity"), lit(0.25))).as("p25"),
            out6(percentile(col("l_quantity"), lit(0.5))).as("p50"),
            out6(percentile(col("l_quantity"), lit(0.75))).as("p75"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag,
             |  CAST(ROUND(quantile_cont(l_quantity, 0.25), 6) AS DECIMAL(18,6)) AS p25,
             |  CAST(ROUND(quantile_cont(l_quantity, 0.50), 6) AS DECIMAL(18,6)) AS p50,
             |  CAST(ROUND(quantile_cont(l_quantity, 0.75), 6) AS DECIMAL(18,6)) AS p75
             |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin)),

    // q53 — unpivot: the wide per-flag aggregate reshaped long, one row per
    // (flag, measure). Spark's native unpivot (melt); no shuffle beyond the
    // aggregate's own.
    Declared("q53_unpivot",
      (s, dir) => {
        val wide = Tables.load(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            out6(sum(dec(col("l_quantity")))).as("sum_qty"),
            out6(sum(dec(col("l_extendedprice")))).as("sum_price"),
            out6(sum(dec(col("l_discount")))).as("sum_disc"))
        wide.unpivot(Array(col("l_returnflag")),
            Array(col("sum_qty"), col("sum_price"), col("sum_disc")),
            "measure", "val")
          .orderBy(col("l_returnflag"), col("measure"))
      },
      Some("""WITH w AS (SELECT l_returnflag,
             |  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,6))), 6) AS DECIMAL(18,6)) AS sum_qty,
             |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))), 6) AS DECIMAL(18,6)) AS sum_price,
             |  CAST(ROUND(SUM(CAST(l_discount AS DECIMAL(18,6))), 6) AS DECIMAL(18,6)) AS sum_disc
             |  FROM lineitem GROUP BY 1)
             |SELECT l_returnflag, measure, val FROM (
             |  SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS val FROM w
             |  UNION ALL SELECT l_returnflag, 'sum_price', sum_price FROM w
             |  UNION ALL SELECT l_returnflag, 'sum_disc', sum_disc FROM w)
             |ORDER BY l_returnflag, measure""".stripMargin)),

    // q54 — bucketed co-located join: both sides written bucketBy(8, key) +
    // sortBy, joined with zero Exchange (ScaleOpsSpec pins the plan); the
    // gate checks the rows are the same as a plain join of the raw parquet.
    // This is THE lever for repeated big-big joins at 100 TB: pay the
    // bucketed write once, join exchange-free forever after.
    Declared("q54_bucketed_join",
      (s, dir) => {
        s.sql("CREATE DATABASE IF NOT EXISTS graft_buckets")
        // A fresh session does not know tables a PREVIOUS session left in
        // the warehouse dir, so overwrite alone throws
        // LOCATION_ALREADY_EXISTS on the orphaned location — drop from the
        // catalog AND delete the path.
        def reset(table: String): Unit = {
          s.sql(s"DROP TABLE IF EXISTS graft_buckets.$table")
          val wh = s.conf.get("spark.sql.warehouse.dir")
          val p = new org.apache.hadoop.fs.Path(s"$wh/graft_buckets.db/$table")
          val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
          if (fs.exists(p)) fs.delete(p, true)
        }
        reset("lineitem_b"); reset("orders_b")
        // Project to the join's columns BEFORE the bucketed write: the
        // bucket layout only has to carry what the repeated join consumes
        // (write-time column pruning; at 100 TB writing 11 columns to serve
        // a 2-column join is the waste, not the join).
        Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_extendedprice"))
          .write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .format("parquet").saveAsTable("graft_buckets.lineitem_b")
        Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"))
          .write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .format("parquet").saveAsTable("graft_buckets.orders_b")
        s.table("graft_buckets.lineitem_b").hint("merge")
          .join(s.table("graft_buckets.orders_b"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(big(count(lit(1))).as("n"),
            out6(sum(dec(col("l_extendedprice")))).as("sum_price"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS n,
             |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))), 6) AS DECIMAL(18,6)) AS sum_price
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin)),

    // q55 — salted skew-proof aggregation through the gate:
    // SaltedJoin.skewProofCount spreads each hot key over 8 salt lanes
    // (partial per (key, salt), merge per key) so no reducer ever owns a
    // whole hot key. Results must equal a plain GROUP BY count.
    Declared("q55_salted_count",
      (s, dir) => {
        SaltedJoin.skewProofCount(
            Tables.load(s, dir, "events").select(col("event_type")),
            "event_type", salts = 8)
          .select(col("event_type"), big(col("n")).as("n"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, COUNT(*) AS n
             |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // q56 — the custom Generator UDTF through the SQL surface: LATERAL VIEW
    // explode_shingles (GraftExtensions registration) feeding a frequency
    // aggregate. Catalyst plans the same Generate node as builtin explode —
    // no UDF row round-trip; partial counts combine map-side.
    Declared("q56_lateral_shingles",
      (s, dir) => {
        Tables.load(s, dir, "documents").createOrReplaceTempView("documents_sq_v")
        s.sql("""SELECT s.shingle, COUNT(*) AS n
                |FROM documents_sq_v LATERAL VIEW explode_shingles(text, 3) s
                |GROUP BY s.shingle HAVING COUNT(*) >= 5
                |ORDER BY n DESC, shingle LIMIT 20""".stripMargin)
      },
      Some("""WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents),
             |sh AS (SELECT doc_id, unnest(CASE WHEN len(tk) >= 3
             |  THEN list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' '))
             |  ELSE [text] END) AS shingle FROM d)
             |SELECT shingle, COUNT(*) AS n FROM sh
             |GROUP BY 1 HAVING COUNT(*) >= 5
             |ORDER BY n DESC, shingle LIMIT 20""".stripMargin)),

    // q59 — JDBC round trip through the gate: a bounded, deterministic
    // slice of lineitem (l_orderkey ≤ 600 — fixed row count at every SF)
    // goes Spark → Derby table → partitioned JDBC read → aggregate, and the
    // oracle computes the same aggregate straight from parquet. Proves the
    // reference's DB landing path (lambda_function.py:21-32) end-to-end:
    // values must survive the SQL type round trip bit-exactly.
    Declared("q59_jdbc_roundtrip",
      (s, dir) => {
        val dbDir = java.nio.file.Files.createTempDirectory("graft-q59").toString
        val url = s"jdbc:derby:$dbDir/db;create=true"
        val props = graft.sources.Jdbc.props("org.apache.derby.jdbc.EmbeddedDriver")
        val slice = Tables.load(s, dir, "lineitem")
          .filter(col("l_orderkey") <= 600)
          .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
        graft.sources.Jdbc.write(slice, url, "li_slice", props,
          org.apache.spark.sql.SaveMode.Overwrite, batchSize = 500)
        graft.sources.Jdbc.read(s, url, "li_slice", props,
            partitionColumn = "l_orderkey", lowerBound = 1L, upperBound = 600L,
            numPartitions = 4)
          .groupBy(col("l_returnflag").cast("string").as("l_returnflag"))
          .agg(big(count(lit(1))).as("n"),
            out6(sum(dec(col("l_quantity")))).as("sum_qty"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, COUNT(*) AS n,
             |  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,6))), 6) AS DECIMAL(18,6)) AS sum_qty
             |FROM lineitem WHERE l_orderkey <= 600
             |GROUP BY 1 ORDER BY l_returnflag""".stripMargin)),

    // q89 — ORC round trip through the gate: orders goes parquet → ORC
    // files → ORC scan (with a pushable predicate) → aggregate; the oracle
    // computes the same aggregate straight from parquet. Widens the source
    // matrix to Spark's second columnar format with the same bit-exactness
    // bar as q59's JDBC trip; the filter lands in the ORC reader's
    // PushedFilters (same pushdown machinery as parquet).
    Declared("q89_orc_roundtrip",
      (s, dir) => {
        val base = SharedStages.scratchDir("q89")
        Tables.load(s, dir, "orders").write.mode("overwrite").orc(s"$base/orders_orc")
        s.read.orc(s"$base/orders_orc")
          .filter(col("o_totalprice") > 1000.0)
          .groupBy(col("o_orderstatus"))
          .agg(big(count(lit(1))).as("n"),
            out6(sum(dec(col("o_totalprice")))).as("sum_price"))
          .orderBy(col("o_orderstatus"))
      },
      Some("""SELECT o_orderstatus, COUNT(*) AS n,
             |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 6) AS DECIMAL(18,6)) AS sum_price
             |FROM orders WHERE o_totalprice > 1000.0
             |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin)),

    // q90 — JSON-lines round trip through the gate: documents (free text
    // with whitespace/quotes — the fields that break naive row formats) go
    // parquet → JSON lines → schema-applied JSON scan → per-language
    // aggregate over BOTH a passthrough column and the text itself
    // (md5 over the round-tripped text pins escaping losslessness);
    // oracle straight from parquet.
    Declared("q90_json_roundtrip",
      (s, dir) => {
        val base = SharedStages.scratchDir("q90")
        val docs = Tables.load(s, dir, "documents")
        docs.write.mode("overwrite").json(s"$base/docs_json")
        s.read.schema(docs.schema).json(s"$base/docs_json")
          .groupBy(col("lang"))
          .agg(big(count(lit(1))).as("n"),
            big(sum(col("n_chars"))).as("sum_chars"),
            min(md5(col("text"))).as("min_text_md5"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, COUNT(*) AS n,
             |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
             |  MIN(md5(text)) AS min_text_md5
             |FROM documents GROUP BY 1 ORDER BY lang""".stripMargin)),

    // q109 -- XML roundtrip (Spark 4's built-in xml source): write customer
    // as element-per-row XML, read back with an explicit schema (decimal
    // acctbal so the text roundtrip is exact), aggregate -- the oracle runs
    // the same aggregate on the original parquet, so any write/read
    // divergence breaks the hash. Explicit schema on read keeps it one scan
    // (schema inference would read the files twice); like ORC/JSON this is
    // interchange-format coverage, not an analytic-store recommendation.
    Declared("q109_xml_roundtrip",
      (s, dir) => {
        val base = SharedStages.scratchDir("q109")
        Tables.load(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"), dec(col("c_acctbal")).as("c_acctbal"))
          .write.mode("overwrite")
          .option("rootTag", "customers").option("rowTag", "customer")
          .format("xml").save(s"$base/cust_xml")
        s.read
          .schema("c_custkey LONG, c_mktsegment STRING, c_acctbal DECIMAL(18,6)")
          .option("rowTag", "customer")
          .format("xml").load(s"$base/cust_xml")
          .groupBy(col("c_mktsegment"))
          .agg(big(count(lit(1))).as("n"),
            out6(sum(col("c_acctbal"))).as("sum_acctbal"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""SELECT c_mktsegment, COUNT(*) AS n,
             |  CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,6))), 6) AS DECIMAL(18,6)) AS sum_acctbal
             |FROM customer GROUP BY 1 ORDER BY c_mktsegment""".stripMargin)),

    // q114 -- parquet schema evolution: generation 1 of a table has
    // (doc_id, text), generation 2 adds (lang, n_chars); mergeSchema reads
    // both generations as one table with NULLs where the old files lack the
    // new columns -- how a 100 TB analytic store actually evolves (no
    // rewrite of old data). The aggregate exercises the NULL semantics the
    // merged read must produce (COUNT counts all rows, SUM skips the
    // pre-evolution NULLs); the oracle derives the same result from the
    // original table, so a wrong merge breaks the hash. mergeSchema's
    // footer merge is a one-time planning cost -- production pins the
    // merged schema explicitly after evolution, which .schema() supports.
    Declared("q114_schema_evolution",
      (s, dir) => {
        val base = SharedStages.scratchDir("q114")
        val docs = Tables.load(s, dir, "documents")
        docs.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id"), col("text"))
          .write.mode("overwrite").parquet(s"$base/v1")
        docs.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
          .write.mode("overwrite").parquet(s"$base/v2")
        s.read.option("mergeSchema", "true").parquet(s"$base/v1", s"$base/v2")
          .groupBy(coalesce(col("lang"), lit("pre_evolution")).as("lang"))
          .agg(big(count(lit(1))).as("n"),
            big(sum(col("n_chars"))).as("sum_chars"),
            min(md5(col("text"))).as("min_text_md5"))
          .orderBy(col("lang"))
      },
      Some("""SELECT CASE WHEN doc_id % 2 = 0 THEN 'pre_evolution' ELSE lang END AS lang,
             |  COUNT(*) AS n,
             |  CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN n_chars END) AS BIGINT) AS sum_chars,
             |  MIN(md5(text)) AS min_text_md5
             |FROM documents GROUP BY 1 ORDER BY lang""".stripMargin)),

    // q97 — Z-ORDER LAYOUT semantics under the gate: the Morton key of
    // (customer, order-day) — operators.ZOrderLayout's interleaved-bit
    // arithmetic, pure codegen'd shifts/masks — bucketed into 2^22-wide
    // curve segments (up to 1024 over full 16-bit dims; the fixture's
    // sub-2^14 dimension values land in a handful) with per-segment count
    // + the min/max BOX of both original dimensions. Tight per-segment boxes are exactly what makes z-ordered
    // files prunable on either dimension at 100 TB (ScaleOpsSpec measures
    // the file-level effect; this pins the key arithmetic bit-for-bit
    // against DuckDB's `<<`/`&` reproduction).
    Declared("q97_zorder_layout",
      (s, dir) => {
        import graft.operators.ZOrderLayout.zKey2
        val dimA = pmod(col("o_custkey"), lit(65536L))
        val dimB = pmod(datediff(to_date(col("o_orderdate")), to_date(lit("1970-01-01"))).cast("long"), lit(65536L))
        Tables.load(s, dir, "orders")
          .withColumn("zkey", zKey2(dimA, dimB))
          .withColumn("bucket", idiv(col("zkey"), lit(1L << 22)))
          .groupBy(col("bucket"))
          .agg(big(count(lit(1))).as("n"),
            big(min(col("zkey"))).as("min_z"), big(max(col("zkey"))).as("max_z"),
            big(min(dimA)).as("min_cust"), big(max(dimA)).as("max_cust"),
            big(min(dimB)).as("min_day"), big(max(dimB)).as("max_day"))
          .select(big(col("bucket")).as("bucket"), col("n"), col("min_z"), col("max_z"),
            col("min_cust"), col("max_cust"), col("min_day"), col("max_day"))
          .orderBy(col("bucket"))
      },
      Some("""WITH d AS (SELECT o_custkey % 65536 AS a,
             |    (CAST(o_orderdate AS DATE) - DATE '1970-01-01') % 65536 AS b FROM orders),
             |s1 AS (SELECT a, b, ((a | (a << 8)) & 16711935) AS a1,
             |    ((b | (b << 8)) & 16711935) AS b1 FROM d),
             |s2 AS (SELECT a, b, ((a1 | (a1 << 4)) & 252645135) AS a2,
             |    ((b1 | (b1 << 4)) & 252645135) AS b2 FROM s1),
             |s3 AS (SELECT a, b, ((a2 | (a2 << 2)) & 858993459) AS a3,
             |    ((b2 | (b2 << 2)) & 858993459) AS b3 FROM s2),
             |s4 AS (SELECT a, b, ((a3 | (a3 << 1)) & 1431655765) AS a4,
             |    ((b3 | (b3 << 1)) & 1431655765) AS b4 FROM s3),
             |z AS (SELECT a, b, (a4 | (b4 << 1)) AS zkey FROM s4)
             |SELECT CAST(zkey // 4194304 AS BIGINT) AS bucket,
             |  CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(MIN(zkey) AS BIGINT) AS min_z, CAST(MAX(zkey) AS BIGINT) AS max_z,
             |  CAST(MIN(a) AS BIGINT) AS min_cust, CAST(MAX(a) AS BIGINT) AS max_cust,
             |  CAST(MIN(b) AS BIGINT) AS min_day, CAST(MAX(b) AS BIGINT) AS max_day
             |FROM z GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // q101 — STATIC PARTITION PRUNING over a date-partitioned fact layout:
    // events written `partitionBy(d)` (Hive-style d=YYYY-MM-DD dirs, the
    // standard 100 TB fact layout), read back with a literal date-range
    // predicate. Catalyst resolves the predicate against the partition
    // DIRECTORY listing — the 27 out-of-range days are never opened, no
    // footer reads, no tasks. PartitionPruneSpec pins PartitionFilters in
    // the scan and `number of partitions read` == 3; this entry pins the
    // semantics against the oracle's full-scan-with-filter equivalent.
    // (The reference's only pruning lever is a key prefix filter,
    // start_all_pipeline.py:448-450 — this is that idea promoted to the
    // analytic store's directory layout.)
    Declared("q101_partition_prune",
      (s, dir) => {
        s.read.parquet(SharedStages.partitionedEventsPath(s, dir))
          .filter(col("d").between(lit("2024-01-10"), lit("2024-01-12")))
          .groupBy(col("event_type"))
          .agg(big(count(lit(1))).as("n"),
            out6(sum(dec(col("value")))).as("sum_value"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, COUNT(*) AS n,
             |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 6) AS DECIMAL(18,6)) AS sum_value
             |FROM events
             |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-12'
             |GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // q102 — DYNAMIC PARTITION PRUNING: the partitioned fact joined on its
    // partition column to a tiny calendar dim filtered on a NON-join
    // attribute (dow = Monday). The pruning predicate is only known at
    // runtime — Catalyst inserts a dynamicpruning subquery that reuses the
    // dim's broadcast to enumerate surviving `d` values, and the fact scan
    // opens only the Monday directories (5 of 30; PartitionPruneSpec pins
    // the dynamicpruning filter + partitions-read metric). This is THE
    // star-join scan lever at 100 TB: fact×calendar with a selective dim
    // slice must never list, open, or schedule the other partitions.
    Declared("q102_dpp_join",
      (s, dir) => {
        val ev = s.read.parquet(SharedStages.partitionedEventsPath(s, dir))
        val dim = s.read.parquet(SharedStages.dateDimPath(s, dir))
          .filter(col("dow") === 2) // Mondays
        ev.join(dim, Seq("d"))
          .groupBy(col("d"))
          .agg(big(count(lit(1))).as("n"),
            out6(sum(dec(col("value"))) / count(lit(1))).as("avg_value"))
          .orderBy(col("d"))
          .select(tdate(col("d")).as("d"), col("n"), col("avg_value"))
      },
      Some("""SELECT strftime(d, '%Y-%m-%d') AS d, n, avg_value FROM (
             |  SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n,
             |    CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))) / COUNT(*), 6) AS DECIMAL(18,6)) AS avg_value
             |  FROM events
             |  WHERE isodow(CAST(ts AS DATE)) = 1
             |  GROUP BY 1 ORDER BY d)""".stripMargin)),

    // q105 — HEAVY-HITTER (hot-key) detection: per event type, the top-5
    // users by event count with their share in ppm (integer — engine-
    // portable where a double share would not be). This is the OPERATIONAL
    // input to every skew lever in the repo (AQE thresholds, SaltedJoin,
    // AsOfJoin.backwardNativeSalted): you salt the keys this query
    // surfaces. Plan shape: one two-key partial agg (map-side combine),
    // groupedTopK's per-partition pre-rank so ≤ k·partitions rows reach
    // the per-type exchange, and a broadcast 1-row-per-type total for the
    // share — counter-sized all the way, no fact-sized shuffle after the
    // first agg. ScaleOpsSpec bound-checks Spark's count_min_sketch
    // estimate against these exact counts (the sketch is what you run
    // FIRST at 100 TB: one pass, fixed memory, then exact-count only the
    // suspects).
    Declared("q105_heavy_hitters",
      (s, dir) => {
        val counts = Tables.load(s, dir, "events")
          .groupBy(col("event_type"), col("user_id"))
          .agg(count(lit(1)).as("cnt"))
        val totals = Tables.load(s, dir, "events")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("total"))
        groupedTopK(counts, "event_type", 5,
            Seq(col("cnt").desc, col("user_id")))
          .join(broadcast(totals), Seq("event_type"))
          .select(col("event_type"), col("rn"), col("user_id"),
            big(col("cnt")).as("cnt"),
            idiv(col("cnt") * 1000000L, col("total")).as("share_ppm"))
          .orderBy(col("event_type"), col("rn"))
      },
      Some("""WITH counts AS (
             |  SELECT event_type, user_id, COUNT(*) AS cnt
             |  FROM events GROUP BY 1, 2),
             |totals AS (
             |  SELECT event_type, COUNT(*) AS total FROM events GROUP BY 1),
             |ranked AS (
             |  SELECT event_type, user_id, cnt,
             |    ROW_NUMBER() OVER (PARTITION BY event_type
             |      ORDER BY cnt DESC, user_id) AS rn
             |  FROM counts)
             |SELECT r.event_type, r.rn, r.user_id, CAST(r.cnt AS BIGINT) AS cnt,
             |  CAST(r.cnt * 1000000 // t.total AS BIGINT) AS share_ppm
             |FROM ranked r JOIN totals t USING (event_type)
             |WHERE r.rn <= 5 ORDER BY r.event_type, r.rn""".stripMargin)),

    // q144 — 2-D SKYLINE (Pareto frontier): parts no other part beats on
    // BOTH (cheaper-or-equal price, bigger-or-equal size, one strict). The
    // canonical formulation is the NOT EXISTS self-join the oracle runs —
    // quadratic, and Spark would plan it as a nested-loop. The engine
    // instead runs the sort-sweep: collapse to per-price best size, global
    // running max over price order with its EXCLUSIVE twin from the same
    // pass (GlobalCumSum.withCumMaxExclusive — the one-shuffle prefix-max
    // primitive, no partition-less window and no rank self-join), keep
    // price groups whose best size beats every cheaper group, then one
    // equi join back tags the surviving parts. Every stage is linear or
    // group-sized; nothing is all-pairs.
    Declared("q144_skyline",
      (s, dir) => {
        import graft.operators.GlobalCumSum
        val p = Tables.load(s, dir, "part")
          .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
        val grp = p.groupBy(col("p_retailprice").as("price"))
          .agg(max(col("p_size")).cast("long").as("gmax"))
        val order = Seq(col("price"))
        // r13 (guide §2.4): the EXCLUSIVE prefix max (max over strictly
        // cheaper groups; Long.MinValue for the cheapest) falls out of the
        // same sweep pass (withCumMaxExclusive) — before, GlobalRank plus
        // a rank+1 self-join re-derived it as lag(runmax) at the cost of a
        // second range shuffle and two hash exchanges. The first row's
        // MinValue exclusive is exactly what the old coalesce(prevmax,
        // MinValue) null-pad produced.
        val swept = GlobalCumSum.withCumMaxExclusive(
          grp, order, col("gmax"), "runmax", "prevmax")
        val sky = swept
          .filter(col("gmax") > col("prevmax"))
          .select(col("price"), col("gmax"))
        p.join(sky, p("p_retailprice") === sky("price")
            && p("p_size").cast("long") === sky("gmax"))
          .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
          .orderBy(col("p_retailprice"), col("p_partkey"))
      },
      Some("""SELECT p_partkey, p_retailprice, p_size FROM part p
             |WHERE NOT EXISTS (SELECT 1 FROM part q
             |  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
             |    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
             |ORDER BY p_retailprice, p_partkey""".stripMargin)),

    // q145 — GLOBAL WEIGHTED MEDIAN (quantity-weighted median line price):
    // the smallest price whose cumulative weight reaches half the total.
    // The oracle's natural form is a partition-less window cumsum — the
    // exact shape that funnels 100 TB into one task — so the engine runs
    // GlobalCumSum over the total order (price, orderkey, linenumber)
    // instead: one range shuffle, per-partition imperative fold, broadcast
    // offsets. The half-total threshold is a 1-row broadcast and the
    // crossing row is TakeOrdered(1). Weights are integral quantities
    // (cast-checked by GlobalCumSum), so the crossing test 2·cum ≥ total
    // is exact integer arithmetic on both engines.
    Declared("q145_weighted_median",
      (s, dir) => {
        import graft.operators.GlobalCumSum
        val w = Tables.load(s, dir, "lineitem")
          .select(col("l_extendedprice").as("p"), col("l_quantity").cast("long").as("q"),
            col("l_orderkey"), col("l_linenumber"))
        val order = Seq(col("p"), col("l_orderkey"), col("l_linenumber"))
        val cum = GlobalCumSum.withCumSum(w, order, col("q"), "cw")
        val tot = broadcast(w.agg(sum(col("q")).as("tw")))
        cum.crossJoin(tot)
          .filter(lit(2L) * col("cw") >= col("tw"))
          .orderBy(col("p"))
          .limit(1)
          .select(col("p").as("median_price"), big(col("tw")).as("total_weight"))
      },
      Some("""WITH w AS (SELECT l_extendedprice AS p, CAST(l_quantity AS BIGINT) AS q,
             |                  l_orderkey, l_linenumber FROM lineitem),
             |c AS (SELECT p, q, SUM(q) OVER (ORDER BY p, l_orderkey, l_linenumber
             |                                ROWS UNBOUNDED PRECEDING) AS cw FROM w),
             |t AS (SELECT CAST(SUM(q) AS BIGINT) AS tw FROM w)
             |SELECT c.p AS median_price, t.tw AS total_weight
             |FROM c CROSS JOIN t WHERE 2*c.cw >= t.tw
             |ORDER BY c.p LIMIT 1""".stripMargin)),

    // q146 — GROUPED weighted percentile (p90 of line price weighted by
    // quantity, per return flag): q145's crossing-row rule under a
    // partitioned window — per-group cumsums are scale-fine (the partition
    // bounds the sort), so no GlobalCumSum needed here; the group totals
    // attach as a group-count-sized broadcast and the crossing price is
    // MIN(p) over qualifying rows (the cumsum is nondecreasing within the
    // group, so the first crosser has the minimal price). 10·cum ≥ 9·total
    // keeps the 0.9 threshold in exact integers.
    Declared("q146_weighted_p90",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Tables.load(s, dir, "lineitem")
          .select(col("l_returnflag").as("g"), col("l_extendedprice").as("p"),
            col("l_quantity").cast("long").as("q"), col("l_orderkey"), col("l_linenumber"))
        val win = Window.partitionBy(col("g"))
          .orderBy(col("p"), col("l_orderkey"), col("l_linenumber"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val tot = w.groupBy(col("g")).agg(sum(col("q")).as("tw"))
        w.withColumn("cw", sum(col("q")).over(win))
          .join(broadcast(tot), "g")
          .filter(lit(10L) * col("cw") >= lit(9L) * col("tw"))
          .groupBy(col("g"))
          .agg(min(col("p")).as("p90_price"))
          .orderBy(col("g"))
      },
      Some("""WITH w AS (SELECT l_returnflag AS g, l_extendedprice AS p,
             |                  CAST(l_quantity AS BIGINT) AS q, l_orderkey, l_linenumber
             |           FROM lineitem),
             |c AS (SELECT g, p, q, SUM(q) OVER (PARTITION BY g ORDER BY p, l_orderkey, l_linenumber
             |                                   ROWS UNBOUNDED PRECEDING) AS cw FROM w),
             |t AS (SELECT g, CAST(SUM(q) AS BIGINT) AS tw FROM w GROUP BY g)
             |SELECT c.g, MIN(c.p) AS p90_price
             |FROM c JOIN t USING (g) WHERE 10*c.cw >= 9*t.tw
             |GROUP BY c.g ORDER BY g""".stripMargin)),

    // q147 — CUMULATIVE ADOPTION CURVE: per day, newly-seen users and the
    // running total of distinct users ever seen. First-seen day is one
    // user-keyed aggregate; the running total is GlobalCumSum over the
    // DAY-aggregated table (calendar-sized, but the primitive keeps the
    // recipe uniform — no partition-less window anywhere in the engine).
    Declared("q147_adoption_curve",
      (s, dir) => {
        import graft.operators.GlobalCumSum
        val f = Tables.load(s, dir, "events")
          .select(col("user_id"), idiv(unix_micros(col("ts")), lit(86400000000L)).as("d"))
          .groupBy(col("user_id")).agg(min(col("d")).as("d0"))
        val daily = f.groupBy(col("d0").as("d")).agg(count(lit(1)).as("new_users"))
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

    // q238 — approx_percentile (Greenwald-Khanna) rank-error audit, the
    // percentile member of the sketch-plus-exact-verify family (q162
    // Misra-Gries, q233 MinHash): per group, the p50 estimate at
    // accuracy=100 must land within the guaranteed ±1% rank window. The
    // estimate itself is merge-order-dependent (not oracle-reproducible),
    // so the declared output is the exact window plus the verified
    // invariant — `within` flips false (hash break) if the sketch ever
    // violates its bound. Tie-safe: the estimate's rank INTERVAL
    // [count(<v), count(<=v)] must intersect the window, not any single
    // rank. One scan for the sketch, one for the exact ranks, joined on a
    // broadcast of the group-sized estimate row.
    Declared("q238_approx_percentile_audit",
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
        val est = li.groupBy(col("l_returnflag"))
          .agg(expr("approx_percentile(l_extendedprice, 0.5D, 100)").as("apx"))
        li.join(broadcast(est), "l_returnflag")
          .groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).as("n"),
            sum(when(col("l_extendedprice") < col("apx"), 1L).otherwise(0L)).as("r_lt"),
            sum(when(col("l_extendedprice") <= col("apx"), 1L).otherwise(0L)).as("r_le"))
          .select(col("l_returnflag"), col("n"),
            greatest(idiv(lit(49L) * col("n"), lit(100L)) - 1L, lit(0L)).as("lo_rank"),
            (idiv(lit(51L) * col("n") + 99L, lit(100L)) + 1L).as("hi_rank"),
            (col("r_lt") <= idiv(lit(51L) * col("n") + 99L, lit(100L)) + 1L &&
              col("r_le") >= greatest(idiv(lit(49L) * col("n"), lit(100L)) - 1L, lit(0L)))
              .as("within"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(GREATEST((49 * COUNT(*)) // 100 - 1, 0) AS BIGINT) AS lo_rank,
             |  CAST((51 * COUNT(*) + 99) // 100 + 1 AS BIGINT) AS hi_rank,
             |  TRUE AS within
             |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin)),

    // q270 — Z-ORDER LAYOUT AUDIT (operators.ZOrder): the multi-dimensional
    // data-layout lever (Delta OPTIMIZE ZORDER / Iceberg sort orders) as a
    // measurable, oracle-checked fact. Events land on a 64×64 (user-bucket
    // × day-bucket) grid; a 4-wide user-bucket slice (x ∈ 4..7) is the
    // filter a y-major layout is worst at. Reported per layout: how many
    // 64-cell range-buckets the filter's rows land in — the file count a
    // min/max-pruned scan would open. Z-order touches exactly the buckets
    // whose high x-bits match (8 of 64 here, the ZOrder locality law);
    // y-major touches every day bucket that has matching rows (~64). Pure
    // bit arithmetic both engines replay; the physical write path is
    // ZOrder.layoutByZ (range-partition + in-partition sort on zval),
    // exercised in ZOrderSpec — at 100 TB this difference IS the scan bill
    // for every second-dimension filter.
    Declared("q270_zorder_audit",
      (s, dir) => {
        import graft.operators.ZOrder
        val grid = Tables.load(s, dir, "events")
          .select(pmod(col("user_id"), lit(64L)).as("x"),
            pmod(datediff(to_date(col("ts")), lit("1970-01-01").cast("date")), lit(64))
              .cast("long").as("y"))
          .withColumn("zb", idiv(ZOrder.zval(col("x"), col("y"), 6), lit(64L)))
          .where(col("x").between(4, 7))
        // both layouts' bucket counts out of ONE scan/aggregate, then
        // exploded to the two report rows (row-sized work)
        grid.agg(big(countDistinct(col("y"))).as("yt"),
            big(countDistinct(col("zb"))).as("zt"), big(count(lit(1))).as("n"))
          .select(explode(array(
            struct(lit("ymajor").as("layout"), col("yt").as("buckets_touched"),
              col("n").as("rows_matched")),
            struct(lit("zorder").as("layout"), col("zt").as("buckets_touched"),
              col("n").as("rows_matched")))).as("r"))
          .select(col("r.layout"), col("r.buckets_touched"), col("r.rows_matched"))
          .orderBy(col("layout"))
      },
      Some("""WITH e AS (SELECT user_id % 64 AS x,
             |    (CAST(ts AS DATE) - DATE '1970-01-01') % 64 AS y FROM events),
             |z AS (SELECT x, y,
             |    (x%2)*1 + ((x//2)%2)*4 + ((x//4)%2)*16 + ((x//8)%2)*64
             |    + ((x//16)%2)*256 + ((x//32)%2)*1024
             |    + (y%2)*2 + ((y//2)%2)*8 + ((y//4)%2)*32 + ((y//8)%2)*128
             |    + ((y//16)%2)*512 + ((y//32)%2)*2048 AS zval
             |  FROM e),
             |m AS (SELECT * FROM z WHERE x BETWEEN 4 AND 7)
             |SELECT 'ymajor' AS layout,
             |  CAST(COUNT(DISTINCT y) AS BIGINT) AS buckets_touched,
             |  CAST(COUNT(*) AS BIGINT) AS rows_matched FROM m
             |UNION ALL
             |SELECT 'zorder',
             |  CAST(COUNT(DISTINCT zval // 64) AS BIGINT),
             |  CAST(COUNT(*) AS BIGINT) FROM m
             |ORDER BY layout""".stripMargin)),

    // q277 — Z-ORDER ROUTED SLICE: q270 audits the layout arithmetically;
    // this query actually READS through it — a 4×4 (user-bucket ×
    // day-bucket) slice of events served from the physically z-ordered
    // files (SharedStages.zorderEventsPath: stored x/y columns,
    // ZOrder.layoutByZ write). Both predicates push to the parquet scan,
    // and because every file owns one contiguous Morton range, the
    // row-group min/max on x AND y are tight simultaneously — the scan
    // skips all but the handful of files whose z-range intersects the
    // slice (ZOrderSpec pins files-touched z vs y-major at a ≥4× gap; the
    // y-major layout answers the same query by opening nearly every
    // file). At 100 TB this is Delta OPTIMIZE ZORDER's read path; the
    // oracle computes the slice from raw events.
    Declared("q277_zorder_slice",
      (s, dir) => {
        s.read.parquet(SharedStages.zorderEventsPath(s, dir))
          .filter(col("x").between(4, 7) && col("y").between(8, 11))
          .groupBy(col("event_type"))
          .agg(big(count(lit(1))).as("n"),
            out6(sum(dec(col("value")))).as("sum_value"))
          .orderBy(col("event_type"))
      },
      Some(zorderSliceOracle)),

    // q288 — Z-ORDER MAINTENANCE UNDER INGEST (ZOrder.ingestBatchZ +
    // compactZ): q277's slice served from the INCREMENTALLY-built store —
    // four batches land as replay-idempotent feed partitions, each
    // z-clustered within itself (locally tight, globally decaying), then
    // the maintenance fold re-runs the GLOBAL z-layout over the
    // consolidation via compactBatches' rewrite hook (bounded at the
    // just-committed batch — the round-13 contract; crash-safe
    // intent/commit, content audited). Delta OPTIMIZE ZORDER's full
    // lifecycle: ingest decays locality, OPTIMIZE restores it —
    // ZOrderStoreSpec pins the decay → restore by BYTES TOUCHED; the gate
    // pins that the maintained store answers exactly like raw events
    // (shares q277's oracle).
    Declared("q288_zorder_maintained",
      (s, dir) => {
        import graft.operators.ZOrder
        val store = SharedStages.scratchDir("q288") + "/zstore"
        val ev = Tables.load(s, dir, "events")
          .withColumn("x", pmod(col("user_id"), lit(64L)))
          .withColumn("y",
            pmod(datediff(to_date(col("ts")), lit("1970-01-01").cast("date")),
              lit(64)).cast("long"))
        for (b <- 0L until 4L)
          ZOrder.ingestBatchZ(ev.filter(pmod(col("event_id"), lit(4L)) === b),
            col("x"), col("y"), bits = 6, files = 4, store, b)
        ZOrder.compactZ(s, store, col("x"), col("y"), bits = 6, files = 32,
          upTo = 3L)
        graft.streaming.Loader.readTable(s, store)
          .filter(col("x").between(4, 7) && col("y").between(8, 11))
          .groupBy(col("event_type"))
          .agg(big(count(lit(1))).as("n"),
            out6(sum(dec(col("value")))).as("sum_value"))
          .orderBy(col("event_type"))
      },
      Some(zorderSliceOracle)),

    // q271 — COUNT-MIN SKETCH accuracy audit: the mergeable frequency
    // sketch (Cormode & Muthukrishnan 2005) next to q162's Misra-Gries and
    // q39's HLL — d=4 rows × w=1024 buckets, md5-derived row hashes so BOTH
    // engines build the identical sketch (derandomized, like q219's
    // permutation test). est(key) = min over rows of its bucket's summed
    // count; CMS never undercounts, so overcount = est − exact ≥ 0 is the
    // audited error. Scale shape: the sketch is built from the KEY-LEVEL
    // count table (never a second raw scan), each row's bucket sums are a
    // 1024-row broadcast, and the per-key estimate is 4 broadcast joins —
    // at 100 TB the raw data is read once for the exact counts and the
    // sketch costs vocabulary-sized work on top. Top-20 heaviest keys
    // reported with exact, estimate, overcount.
    Declared("q271_cms_audit",
      (s, dir) => {
        import graft.functions.ColumnOps.hexLong
        val c = Tables.load(s, dir, "lineitem")
          .groupBy(col("l_partkey")).agg(count(lit(1)).as("exact"))
        def bucket(j: Int) =
          hexLong(md5(concat(lit(s"cms$j#"), col("l_partkey"))), 1, 8) % 1024
        val keyed = c.select(col("l_partkey") +: col("exact") +:
          (0 until 4).map(j => bucket(j).as(s"b$j")): _*)
        val est = (0 until 4).foldLeft(keyed) { (df, j) =>
          df.join(broadcast(
            keyed.groupBy(col(s"b$j")).agg(sum(col("exact")).as(s"s$j"))), s"b$j")
        }
        est.select(col("l_partkey"), big(col("exact")).as("exact"),
            big(least(col("s0"), col("s1"), col("s2"), col("s3"))).as("cms_est"))
          .withColumn("overcount", big(col("cms_est") - col("exact")))
          .orderBy(col("exact").desc, col("l_partkey"))
          .limit(20)
      },
      Some("""WITH c AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS exact
             |  FROM lineitem GROUP BY 1),
             |k AS (SELECT l_partkey, exact,
             |  CAST(('0x' || substr(md5('cms0#' || l_partkey::VARCHAR), 1, 8)) AS BIGINT) % 1024 AS b0,
             |  CAST(('0x' || substr(md5('cms1#' || l_partkey::VARCHAR), 1, 8)) AS BIGINT) % 1024 AS b1,
             |  CAST(('0x' || substr(md5('cms2#' || l_partkey::VARCHAR), 1, 8)) AS BIGINT) % 1024 AS b2,
             |  CAST(('0x' || substr(md5('cms3#' || l_partkey::VARCHAR), 1, 8)) AS BIGINT) % 1024 AS b3
             |  FROM c),
             |s0 AS (SELECT b0, SUM(exact) AS s0 FROM k GROUP BY 1),
             |s1 AS (SELECT b1, SUM(exact) AS s1 FROM k GROUP BY 1),
             |s2 AS (SELECT b2, SUM(exact) AS s2 FROM k GROUP BY 1),
             |s3 AS (SELECT b3, SUM(exact) AS s3 FROM k GROUP BY 1)
             |SELECT l_partkey, exact,
             |  CAST(LEAST(s0, s1, s2, s3) AS BIGINT) AS cms_est,
             |  CAST(LEAST(s0, s1, s2, s3) - exact AS BIGINT) AS overcount
             |FROM k JOIN s0 USING (b0) JOIN s1 USING (b1)
             |  JOIN s2 USING (b2) JOIN s3 USING (b3)
             |ORDER BY exact DESC, l_partkey LIMIT 20""".stripMargin)),

    // q273 — STREAMING Count-Min sketch maintenance (operators.
    // CountMinSketch): the mergeable-sketch-as-maintained-state pattern —
    // CMS is a LINEAR sketch, so the maintained form is a per-batch d×w
    // DELTA feed (≤4096 rows/batch, never key-cardinality state) written
    // replay-idempotently; a query folds the feed (one (row, bucket)
    // aggregate) and min-picks per key. By linearity the fold equals the
    // one-shot batch sketch EXACTLY under any batch split — which is the
    // gate: q273 shares q271's oracle byte-for-byte. Per-batch cost is the
    // batch's own key-count aggregate + a few-KB write; the feed's file
    // growth is prunable with Loader.compactBatches (IndexTables.sink).
    Declared("q273_stream_cms",
      (s, dir) => {
        import graft.operators.CountMinSketch
        val li = Tables.load(s, dir, "lineitem").select(col("l_partkey"))
        val feed = SharedStages.scratchDir("q273") + "/cms"
        for (b <- 0L until 4L)
          CountMinSketch.ingestBatch(
            li.filter(pmod(col("l_partkey"), lit(4L)) === b), "l_partkey", feed, b)
        val exact = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("exact"))
        CountMinSketch.estimates(s, feed, exact, "l_partkey")
          .select(col("l_partkey"), big(col("exact")).as("exact"),
            big(col("est")).as("cms_est"),
            big(col("est") - col("exact")).as("overcount"))
          .orderBy(col("exact").desc, col("l_partkey"))
          .limit(20)
      },
      Some("""WITH c AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS exact
             |  FROM lineitem GROUP BY 1),
             |k AS (SELECT l_partkey, exact,
             |  CAST(('0x' || substr(md5('cms0#' || l_partkey::VARCHAR), 1, 8)) AS BIGINT) % 1024 AS b0,
             |  CAST(('0x' || substr(md5('cms1#' || l_partkey::VARCHAR), 1, 8)) AS BIGINT) % 1024 AS b1,
             |  CAST(('0x' || substr(md5('cms2#' || l_partkey::VARCHAR), 1, 8)) AS BIGINT) % 1024 AS b2,
             |  CAST(('0x' || substr(md5('cms3#' || l_partkey::VARCHAR), 1, 8)) AS BIGINT) % 1024 AS b3
             |  FROM c),
             |s0 AS (SELECT b0, SUM(exact) AS s0 FROM k GROUP BY 1),
             |s1 AS (SELECT b1, SUM(exact) AS s1 FROM k GROUP BY 1),
             |s2 AS (SELECT b2, SUM(exact) AS s2 FROM k GROUP BY 1),
             |s3 AS (SELECT b3, SUM(exact) AS s3 FROM k GROUP BY 1)
             |SELECT l_partkey, exact,
             |  CAST(LEAST(s0, s1, s2, s3) AS BIGINT) AS cms_est,
             |  CAST(LEAST(s0, s1, s2, s3) - exact AS BIGINT) AS overcount
             |FROM k JOIN s0 USING (b0) JOIN s1 USING (b1)
             |  JOIN s2 USING (b2) JOIN s3 USING (b3)
             |ORDER BY exact DESC, l_partkey LIMIT 20""".stripMargin)),

    // q278 — CMS-GUIDED EXACT HEAVY HITTERS (CountMinSketch.
    // ingestHeavyHitters + verifiedHeavyHitters): the sketch-then-verify
    // production pattern composing q273's maintained sketch with exact
    // confirmation — at ingest each batch's own keys are estimated against
    // the folded sketch and the ones crossing the threshold land in a
    // candidates feed (CMS never undercounts ⇒ the feed SUPERSET-covers
    // the true heavy hitters, CmsSketchSpec pins the law); the exact
    // verify counts ONLY candidate keys (broadcast semi-join ahead of the
    // aggregate). The oracle is the plain GROUP BY … HAVING truth, which
    // is the whole point: sketch candidates + exact confirm ≡ the naive
    // full aggregate, at a fraction of its shuffle once keys ≫ hitters.
    Declared("q278_cms_heavy_hitters",
      (s, dir) => {
        import graft.operators.CountMinSketch
        val ev = Tables.load(s, dir, "events").select(col("user_id"))
        val base = SharedStages.scratchDir("q278")
        val (feed, cand) = (s"$base/cms", s"$base/cand")
        val threshold = 60L
        for (b <- 0L until 4L)
          CountMinSketch.ingestHeavyHitters(
            ev.filter(pmod(col("user_id"), lit(4L)) === b),
            "user_id", feed, cand, threshold, b)
        CountMinSketch.verifiedHeavyHitters(s, ev, "user_id", cand, threshold)
          .select(col("user_id"), big(col("exact")).as("exact"))
          .orderBy(col("exact").desc, col("user_id"))
      },
      Some("""SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact
             |FROM events GROUP BY 1 HAVING COUNT(*) >= 60
             |ORDER BY exact DESC, user_id""".stripMargin)),

    // q285 — MAINTAINED MERGEABLE QUANTILE SKETCH audit (operators.
    // QuantileSketch): the missing member of the sketch family (frequency
    // = CMS q271/q273/q278, cardinality = HLL q39, heavy hitters = MG
    // q162). A DDSketch-shaped log-bucket histogram made DETERMINISTIC by
    // integer-only bucketing — value → exact micros, bucket = |m| with all
    // but its top 5 bits zeroed, signed (bin()/mod/power-of-two ops both
    // engines evaluate identically; no floating log whose ulp could flip a
    // boundary). 16 sub-buckets per octave ⇒ the estimate never overshoots
    // and relative error ≤ 1/16. The audit is the q238 rank-interval
    // discipline: for each q the sketch's bucket must contain the true
    // rank — r_lt(est) < rank ≤ r_lt(next boundary) — carried as a
    // `within` boolean the oracle recomputes from its own sketch replay.
    Declared("q285_quantile_sketch_audit",
      (s, dir) => {
        import graft.operators.QuantileSketch
        val li = Tables.load(s, dir, "lineitem").select(col("l_extendedprice").as("v"))
        // persisted: the sketch (≤ ~2k rows) is a CORPUS aggregate consumed
        // by four subtrees (cum window, total, est, audit broadcast) —
        // unpersisted, the sf10 rehearsal re-ran the corpus aggregate
        // inside the nested-loop joins (2,597 vs 292 task-s, round 13)
        val sk = QuantileSketch.delta(li, "v") // one-shot ≡ fold (linearity)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val est = QuantileSketch.quantiles(sk, Seq(500000L, 900000L, 990000L))
          .withColumn("ub", QuantileSketch.upperBoundCol(col("est_micros")))
        li.select(QuantileSketch.micros(col("v")).as("m"))
          .crossJoin(broadcast(est))
          .groupBy(col("q_ppm"), col("rank"), col("est_micros"))
          .agg(sum(when(col("m") < col("est_micros"), 1L).otherwise(0L)).as("r_lt"),
            sum(when(col("m") < col("ub"), 1L).otherwise(0L)).as("r_ub"))
          .select(col("q_ppm"), big(col("rank")).as("rnk"),
            big(col("est_micros")).as("est_micros"),
            (col("r_lt") < col("rank") && col("rank") <= col("r_ub")).as("within"))
          .orderBy(col("q_ppm"))
      },
      Some(quantileSketchOracle)),

    // q286 — STREAMING quantile-sketch maintenance: the linear-sketch
    // pattern (q273's) applied to quantiles — per batch one sketch-sized
    // (bucket, count) delta written replay-idempotently on the Loader feed
    // discipline (with a BOUNDED maintenance fold exercised mid-stream:
    // compactBatches(upTo = just-committed id), the round-13 contract);
    // the query folds the feed and answers quantiles from ≤ ~2k bucket
    // rows. Counts are linear ⇒ the fold equals the one-shot sketch under
    // any batch split, so q286 shares q285's oracle byte-for-byte.
    Declared("q286_stream_quantile_sketch",
      (s, dir) => {
        import graft.operators.QuantileSketch
        val li = Tables.load(s, dir, "lineitem").select(col("l_extendedprice").as("v"))
        val feed = SharedStages.scratchDir("q286") + "/qsk"
        for (b <- 0L until 4L) {
          QuantileSketch.ingestBatch(
            li.filter(pmod(QuantileSketch.micros(col("v")), lit(4L)) === b),
            "v", feed, b)
          if (b == 1L) graft.streaming.Loader.compactBatches(s, feed, upTo = 1L)
        }
        val sk = QuantileSketch.fold(s, feed)
        val est = QuantileSketch.quantiles(sk, Seq(500000L, 900000L, 990000L))
          .withColumn("ub", QuantileSketch.upperBoundCol(col("est_micros")))
        li.select(QuantileSketch.micros(col("v")).as("m"))
          .crossJoin(broadcast(est))
          .groupBy(col("q_ppm"), col("rank"), col("est_micros"))
          .agg(sum(when(col("m") < col("est_micros"), 1L).otherwise(0L)).as("r_lt"),
            sum(when(col("m") < col("ub"), 1L).otherwise(0L)).as("r_ub"))
          .select(col("q_ppm"), big(col("rank")).as("rnk"),
            big(col("est_micros")).as("est_micros"),
            (col("r_lt") < col("rank") && col("rank") <= col("r_ub")).as("within"))
          .orderBy(col("q_ppm"))
      },
      Some(quantileSketchOracle)),

    // q290 — MAINTAINED BOTTOM-K (KMV) SAMPLE (operators.BottomKSample):
    // a uniform without-replacement sample of the distinct keys seen so
    // far, held as k rows of state no matter how much data streams past —
    // the "show me 64 random documents of the 100 TB corpus, cheaply,
    // NOW" primitive. Bottom-k is mergeable (bottomK(A∪B) =
    // bottomK(bottomK(A)∪bottomK(B))), so the maintained form is the
    // linear-sketch feed discipline: per batch its own bottom-k delta (≤k
    // rows), fold = global bottom-k over ≤k·batches rows; BottomKSpec
    // pins split-invariance. Priorities are seedless md5 (the q161
    // derandomization), so both engines draw the IDENTICAL "random"
    // sample — the oracle replays hash, order and rank.
    Declared("q290_bottomk_sample",
      (s, dir) => {
        import graft.operators.BottomKSample
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id").cast("string").as("k"))
        val feed = SharedStages.scratchDir("q290") + "/bk"
        for (b <- 0L until 4L) {
          BottomKSample.ingestBatch(
            docs.filter(pmod(col("k").cast("long"), lit(4L)) === b), "k", feed, b)
          if (b == 1L) graft.streaming.Loader.compactBatches(s, feed, upTo = 1L)
        }
        BottomKSample.fold(s, feed, "k")
          .select(col("rank"), col("k").cast("long").as("doc_id"), col("prio"))
          .orderBy(col("rank"))
      },
      Some("""WITH k AS (SELECT DISTINCT doc_id::VARCHAR AS kk FROM documents),
             |p AS (SELECT kk, CAST(('0x'||substr(md5(kk),1,15)) AS BIGINT) AS prio FROM k),
             |s AS (SELECT kk, prio, row_number() OVER (ORDER BY prio, kk) AS rank FROM p)
             |SELECT CAST(rank AS BIGINT) AS rank, CAST(kk AS BIGINT) AS doc_id, prio
             |FROM s WHERE rank <= 64 ORDER BY rank""".stripMargin)),

    // q291 — KMV DISTINCT-COUNT ESTIMATE from the SAME maintained sample
    // (Bar-Yossef et al. 2002; Beyer et al. SIGMOD'07): one sketch, two
    // answers — q290's bottom-k rows double as a cardinality estimator,
    // est = ⌊(k−1)·2^60 / p_k⌋ in EXACT integral arithmetic (DECIMAL(38,0)
    // `div` on the Spark side, HUGEINT `//` in DuckDB — the numerator
    // 63·2^60 ≈ 2^66 overflows BIGINT). Audited beside HLL q39 with the
    // q285 claim discipline: the exact distinct count rides along and a
    // `within` boolean pins |est − exact| ≤ 50%·exact (≈4σ for k=64; both
    // engines compute the SAME deterministic estimate, so the audit is a
    // verified claim, not a tolerance gate).
    Declared("q291_kmv_distinct",
      (s, dir) => {
        import graft.operators.BottomKSample
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id").cast("string").as("k"))
        val feed = SharedStages.scratchDir("q291") + "/bk"
        for (b <- 0L until 4L)
          BottomKSample.ingestBatch(
            docs.filter(pmod(col("k").cast("long"), lit(4L)) === b), "k", feed, b)
        val est = BottomKSample.kmvEstimate(BottomKSample.fold(s, feed, "k"))
        val exact = docs.agg(countDistinct(col("k")).as("exact"))
        est.crossJoin(exact)
          .select(big(col("n_sample")).as("n_sample"), col("kth_prio"),
            big(col("kmv_est")).as("kmv_est"), big(col("exact")).as("exact"),
            (abs(col("kmv_est") - col("exact")) * 2 <= col("exact")).as("within"))
      },
      Some("""WITH k AS (SELECT DISTINCT doc_id::VARCHAR AS kk FROM documents),
             |p AS (SELECT kk, CAST(('0x'||substr(md5(kk),1,15)) AS BIGINT) AS prio FROM k),
             |s AS (SELECT prio, row_number() OVER (ORDER BY prio, kk) AS rank FROM p),
             |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sample, MAX(prio) AS kth_prio
             |  FROM s WHERE rank <= 64),
             |e AS (SELECT n_sample, kth_prio,
             |    CASE WHEN n_sample < 64 THEN n_sample
             |         ELSE CAST((63::HUGEINT * 1152921504606846976::HUGEINT) // kth_prio AS BIGINT)
             |    END AS kmv_est FROM agg)
             |SELECT n_sample, kth_prio, kmv_est,
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM k) AS exact,
             |  ABS(kmv_est - (SELECT COUNT(*) FROM k)) * 2 <= (SELECT COUNT(*) FROM k) AS within
             |FROM e""".stripMargin))
  )

  /** Shared q277/q288 oracle: the 2-D slice computed from raw events — the
    * routed layouts (static q277, maintained q288) must be semantically
    * invisible.
    */
  private def zorderSliceOracle: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 6) AS DECIMAL(18,6)) AS sum_value
      |FROM (SELECT event_type, value, user_id % 64 AS x,
      |        (CAST(ts AS DATE) - DATE '1970-01-01') % 64 AS y FROM events)
      |WHERE x BETWEEN 4 AND 7 AND y BETWEEN 8 AND 11
      |GROUP BY 1 ORDER BY event_type""".stripMargin

  /** Shared q285/q286 oracle: DuckDB replays the integer log-bucket sketch,
    * the rank arithmetic, and the rank-interval audit — one string, two
    * gates (batch build and 4-batch maintained fold must answer
    * identically, by linearity).
    */
  private def quantileSketchOracle: String =
    """WITH v AS (SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS m
      |  FROM lineitem),
      |bk AS (SELECT m,
      |    CAST(power(2, GREATEST(length(bin(abs(m))) - 5, 0)) AS BIGINT) AS p FROM v),
      |bu AS (SELECT m, (CASE WHEN m < 0 THEN -1 WHEN m > 0 THEN 1 ELSE 0 END)
      |    * (abs(m) - abs(m) % p) AS bucket FROM bk),
      |sk AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n FROM bu GROUP BY 1),
      |tot AS (SELECT SUM(n) AS total FROM sk),
      |cum AS (SELECT bucket, SUM(n) OVER (ORDER BY bucket) AS c FROM sk),
      |qs AS (SELECT CAST(unnest([500000, 900000, 990000]) AS BIGINT) AS q_ppm),
      |rk AS (SELECT q_ppm, (tot.total * q_ppm + 999999) // 1000000 AS rnk0 FROM qs, tot),
      |est AS (SELECT rk.q_ppm, rk.rnk0, MIN(cum.bucket) AS est_micros
      |  FROM rk JOIN cum ON cum.c >= rk.rnk0 GROUP BY 1, 2),
      |ub AS (SELECT q_ppm, rnk0, est_micros,
      |    est_micros + CAST(power(2, GREATEST(length(bin(est_micros)) - 5, 0)) AS BIGINT) AS ubound
      |  FROM est),
      |au AS (SELECT u.q_ppm, u.rnk0, u.est_micros,
      |    SUM(CASE WHEN v.m < u.est_micros THEN 1 ELSE 0 END) AS r_lt,
      |    SUM(CASE WHEN v.m < u.ubound THEN 1 ELSE 0 END) AS r_ub
      |  FROM v, ub u GROUP BY 1, 2, 3)
      |SELECT q_ppm, CAST(rnk0 AS BIGINT) AS rnk, CAST(est_micros AS BIGINT) AS est_micros,
      |  (r_lt < rnk0 AND rnk0 <= r_ub) AS within
      |FROM au ORDER BY q_ppm""".stripMargin
}
