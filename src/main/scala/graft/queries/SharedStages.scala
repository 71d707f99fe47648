package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.model.Tables

/** Materialize-once intermediate stages shared by the dedup/curation family
  * (q32/q34/q47/q57/q60/q61). Each stage is computed ONE time per
  * (application, table dir) and written to parquet; every consumer reads the
  * written files.
  *
  * Why written tables and not `.persist()`: (a) the signature stage is the
  * single most expensive computation in the suite and FOUR queries consume
  * it — recomputing it per query was ~40% of total bench time; (b) executor
  * caches are session-lifetime state that leaks (`clearCache` between
  * queries silently turned the old persists into recomputation anyway);
  * (c) at 100 TB this is exactly what a production pipeline does — the
  * shingle/signature/pair stages land once on the distributed store and
  * cluster formation, verification and reporting all read the same files,
  * instead of each holding a corpus-sized cache resident in executor memory.
  */
object SharedStages {

  private val built = scala.collection.mutable.Map.empty[String, String]
  private val scratch = scala.collection.mutable.ArrayBuffer.empty[String]

  /** A temp dir reclaimed on JVM exit — for stage copies and per-query
    * scratch (a [[Replay]]'s source/sink/checkpoint). Repeated Verify/Bench
    * runs would otherwise accumulate dead dirs under java.io.tmpdir (each
    * new SparkContext gets a new stage key).
    */
  def scratchDir(prefix: String): String = synchronized {
    val d = Files.createTempDirectory(s"graft-$prefix-").toString
    scratch += d
    d
  }

  sys.addShutdownHook {
    (built.values ++ scratch).foreach { dir =>
      val root = java.nio.file.Paths.get(dir)
      if (java.nio.file.Files.exists(root)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(root).iterator().asScala.toSeq
          .sortBy(-_.getNameCount)
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
    }
  }

  /** Run `write(out)` once per (app, dir, stage) into a fresh temp dir and
    * return that dir — the path-returning core of `materialize`, used
    * directly by stages whose LAYOUT matters (partitioned/bucketed writes
    * that a reader must open by path to see the layout). Synchronized on
    * the object (reentrant: building pairs re-enters for shingles/sigs).
    */
  private[graft] def materializePath(s: SparkSession, dir: String,
      stage: String)(write: String => Unit): String = {
    val key = s"${s.sparkContext.applicationId}|$dir|$stage"
    synchronized {
      built.getOrElseUpdate(key, {
        val out = Files.createTempDirectory(s"graft-stage-$stage-").toString
        write(out)
        out
      })
    }
  }

  /** Compute `build` once per (app, dir, stage), write it to a temp parquet
    * dir, and hand every caller the read-back frame.
    */
  private def materialize(s: SparkSession, dir: String, stage: String)
      (build: => DataFrame): DataFrame =
    s.read.parquet(materializePath(s, dir, stage)(out =>
      build.write.mode("overwrite").parquet(out)))

  /** Hive-style DATE-PARTITIONED copy of `events` (`d=YYYY-MM-DD/` dirs,
    * `d` = event date): the most common 100 TB fact layout, and the input
    * for the partition-pruning gates (q101 static, q102 dynamic). One
    * hash shuffle on `d` before the write puts each day in exactly one
    * task → exactly one file per partition dir (a 100 TB deployment sizes
    * files per day with a composite repartition key instead; one file per
    * day at fixture scale keeps the pruning arithmetic exact for the spec's
    * file-count pins).
    */
  def partitionedEventsPath(s: SparkSession, dir: String): String =
    materializePath(s, dir, "events-by-day") { out =>
      Tables.load(s, dir, "events")
        .withColumn("d", to_date(col("ts")))
        .repartition(col("d"))
        .write.mode("overwrite").partitionBy("d").parquet(out)
    }

  /** Events Z-ORDERED on the (user-bucket, day-bucket) grid — the layout
    * q270 audits arithmetically, materialized physically for q277's routed
    * slice query: the bucket coordinates are STORED columns (a pushed
    * filter needs real columns — a pmod expression never reaches the
    * footer stats), the write is ZOrder.layoutByZ (range-partition +
    * in-partition sort on the Morton value), so every file owns one
    * contiguous z-range and its row-group min/max is tight on BOTH
    * dimensions. 32 files ≈ the session's parallelism at gate SF; at
    * 100 TB the same layout sizes files at data/128 MB.
    */
  def zorderEventsPath(s: SparkSession, dir: String): String =
    materializePath(s, dir, "events-zorder") { out =>
      graft.operators.ZOrder.layoutByZ(
        Tables.load(s, dir, "events")
          .withColumn("x", pmod(col("user_id"), lit(64L)))
          .withColumn("y",
            pmod(datediff(to_date(col("ts")), lit("1970-01-01").cast("date")),
              lit(64)).cast("long")),
        col("x"), col("y"), bits = 6, files = 32, outDir = out)
    }

  /** Tiny calendar dimension over the event-date domain (one row per
    * distinct day, with day-of-week attributes) — the broadcastable dim
    * side whose FILTERED join against the partitioned fact must trigger
    * dynamic partition pruning (q102). Written as one file: it is a
    * model-sized object (≤ number of distinct days).
    */
  def dateDimPath(s: SparkSession, dir: String): String =
    materializePath(s, dir, "date-dim") { out =>
      Tables.load(s, dir, "events")
        .select(to_date(col("ts")).as("d")).distinct()
        .withColumn("dow", dayofweek(col("d"))) // 1=Sunday .. 7=Saturday
        .withColumn("is_weekend", col("dow").isin(1, 7))
        .repartition(1)
        .write.mode("overwrite").parquet(out)
    }

  /** (ok, pk): the DISTINCT order→part incidence of `lineitem` — the base
    * relation of the co-purchase graph family. Materialized once because
    * six queries derive from it (q164/q182/q189/q205/q211 through
    * [[copurchasePairs]]; q182's singles counts and order total read it
    * directly): before round 13 each paid the lineitem scan + distinct
    * exchange privately (guide §2.4 — the same keyed work repeated five
    * times is five removable shuffles).
    */
  def orderItems(s: SparkSession, dir: String): DataFrame =
    materialize(s, dir, "order-items") {
      Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
    }

  /** (pa, pb, supp) with pa < pb: the UNDIRECTED co-purchase pair table —
    * part pairs sharing at least one order, supp = number of distinct
    * orders containing both. ONE self-join of [[orderItems]] on the order
    * key serves the whole graph/basket family (q164 edge set = (pa, pb);
    * q182 pair support = supp; q189/q211 directed neighbor lists = the
    * union of both orientations; q205 co-purchase edges = supp ≥ 2 rows);
    * before round 13 each query re-ran the self-join from lineitem —
    * five corpus-sized joins where the data supports one (guide §2.4).
    * Bench times the materialization as its own `copair_stage_build`
    * entry, exactly like the dedup family's `shared_stage_build`, so the
    * one-time cost can never hide in a first-rep-only median.
    *
    * Shape at 100 TB: the self-join is EQUI on the order key (both sides
    * co-partition; fan-out bounded by basket size, never cross-order) and
    * SHUFFLE_HASH (the per-partition build is 1/N of the incidence table —
    * memory-safe at any scale; a sort of either side buys nothing for a
    * downstream hash aggregate). The landed pair table is what every
    * consumer scans — the production co-purchase artifact.
    */
  def copurchasePairs(s: SparkSession, dir: String): DataFrame =
    materialize(s, dir, "copairs") {
      val it = orderItems(s, dir)
      it.as("a").join(it.as("b").hint("shuffle_hash"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .groupBy(col("a.pk").as("pa"), col("b.pk").as("pb"))
        .agg(count(lit(1)).as("supp"))
    }

  /** (doc_id, lang, source, sh): first-occurrence-distinct token 3-gram
    * shingles per document — one exploded row per (doc, shingle). Map-only
    * to produce (scan → codegen'd ShingleArray → explode → write).
    */
  def docShingles(s: SparkSession, dir: String): DataFrame =
    materialize(s, dir, "shingles") {
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          explode(shingles3Distinct(col("text"))).as("sh"))
    }

  /** (doc_id, sig: array<bigint>): 16-lane MinHash signatures. Lane hashes
    * are computed per shingle OCCURRENCE (one md5 + integer arithmetic) so
    * the partial min aggregates map-side — the exploded shingle set is never
    * shuffled; one 17-column row per doc reaches the exchange.
    */
  def minhashSigs(s: SparkSession, dir: String): DataFrame =
    materialize(s, dir, "sigs") {
      val k = DedupQueries.K
      val laned = docShingles(s, dir)
        .select(col("doc_id") +: minhashLaneHashes(col("sh"), k): _*)
      val comps = (1 to k).map(j => min(col(s"h$j")).as(s"m$j"))
      laned.groupBy(col("doc_id"))
        .agg(comps.head, comps.tail: _*)
        .select(col("doc_id"), array((1 to k).map(j => col(s"m$j")): _*).as("sig"))
    }

  /** (id_a, id_b, est_jaccard): MinHash-LSH near-duplicate candidate pairs
    * surviving est_jaccard >= 0.5 — the stage q32 emits, q47 drops against,
    * q57 verifies and q60 clusters. Banding makes candidate generation an
    * equi-join on (band index, band hash): only documents agreeing on a full
    * band ever meet — never O(n²).
    */
  /** (doc_id, rep): the duplicate-cluster map — exact-dup edges (same md5,
    * star to the group min) ∪ LSH near-dup pairs, resolved to connected
    * components. Materialized because cluster CONSUMERS are plural (q60
    * reports it, q67 picks quality-aware representatives, a delete pass
    * would anti-join it) while the iterative CC computation is the most
    * job-heavy stage in the suite — exactly the artifact a production
    * pipeline lands once per corpus version.
    */
  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    materialize(s, dir, "clusters") {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.load(s, dir, "documents")
      val grpMin = min(col("doc_id")).over(Window.partitionBy(md5(col("text"))))
      val exactEdges = docs
        .select(col("doc_id").as("u"), grpMin.as("v"))
        .filter(col("u") =!= col("v"))
      val nearEdges = lshPairs(s, dir)
        .select(col("id_a").as("u"), col("id_b").as("v"))
      graft.operators.ConnectedComponents(exactEdges.unionByName(nearEdges))
        .select(col("node").as("doc_id"), col("rep"))
    }

  def lshPairs(s: SparkSession, dir: String): DataFrame =
    materialize(s, dir, "lshpairs") {
      import DedupQueries.{BANDS, K, ROWS}
      val sigs = minhashSigs(s, dir)
      // CANDIDATES travel NARROW (r14, guide §2.3/§8): the banded stream is
      // BANDS(=20) rows per doc, and the previous shape carried the full
      // 16-lane sig array on BOTH sides of the band self-join — 20× sig
      // duplication through the band exchange, and the arrays rode the
      // (id_a, id_b) dedup exchange too. Candidate generation only needs
      // (band_idx, band, doc_id); the signatures re-attach AFTER the dedup
      // via two doc-keyed joins against the (one row per doc) sig stage —
      // exactly the oracle's own shape (cand JOIN sig sa JOIN sig sb).
      // est_jaccard is a pure function of the pair's two sigs, so
      // attach-after-dedup computes the identical value. Join strategy is
      // deliberately LEFT TO THE PLANNER: at gate SF the banded/sig sides
      // broadcast (zero exchange — forcing SHUFFLE_HASH was measured to
      // add 10 exchanges for nothing), and at 100 TB, where nothing
      // broadcasts, the sort-merge it falls to now sorts 3 narrow columns
      // instead of 16-lane sig arrays; a deployment that prefers hash
      // joins sets spark.sql.join.preferSortMergeJoin=false (guide §9)
      // without touching this shape.
      val banded = sigs.select(col("doc_id"),
        posexplode(bandKeys(col("sig"), BANDS, ROWS)).as(Seq("band_idx", "band")))
      val a = banded.select(col("band_idx"), col("band"), col("doc_id").as("id_a"))
      val b = banded.select(col("band_idx"), col("band"), col("doc_id").as("id_b"))
      val cand = a.join(b, Seq("band_idx", "band"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
        .dropDuplicates("id_a", "id_b")
      val sa = sigs.select(col("doc_id").as("id_a"), col("sig").as("sig_a"))
      val sb = sigs.select(col("doc_id").as("id_b"), col("sig").as("sig_b"))
      cand.join(sa, Seq("id_a"))
        .join(sb, Seq("id_b"))
        .withColumn("est_jaccard",
          Protocol.out6(Protocol.dec(sigMatchCount(col("sig_a"), col("sig_b"), K)) / K))
        .filter(col("est_jaccard") >= 0.5)
        .select(col("id_a"), col("id_b"), col("est_jaccard"))
    }
}
