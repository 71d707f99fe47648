package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

/** Driver-run benchmark: every declared query at SPARK_GRAFT_SF_DIR, one
  * JSON line on stdout (driver contract).
  *
  * Each query runs through [[force]], after one [[warmUp]].
  *
  * Per query the MEDIAN of SPARK_GRAFT_REPS (default 3) runs is reported:
  * single-shot timings on a shared host carry a documented ±40% noise band
  * (BASELINE.md), which made round-over-round regressions unattributable.
  * The dedup family's shared shingle/signature/pair stage (SharedStages) is
  * built once and timed as its own `shared_stage_build` entry — with
  * medians, the one-time build would otherwise vanish from every consumer's
  * median (first rep builds, later reps reuse), silently under-reporting
  * the suite. `total` = sum of query medians + the stage build.
  *
  * Next to each wall-clock median, `task_sec` carries the summed executor
  * task run time (graft.obs.QueryProfile, executorRunTime) of the SAME
  * rep whose wall-clock was the median. Wall-clock on a shared host moves
  * with external load; summed task time is work actually executed —
  * round-over-round comparisons should prefer it (`task_total` at the
  * top level). Streaming-harness queries (q66/q70/q71/q76/q85) still
  * include their source-write/read-back scaffolding in both numbers.
  */
object Bench {
  /** One entry's median rep: (wall, task, gc) seconds; -1 = failed. */
  type Timing = (Double, Double, Double)

  /** Stdout is read back from a ~2,000-char tail. The delta line and the
    * compact totals line together stay within this many chars, so the
    * totals line, printed last, always survives in that tail whole.
    */
  val TailBudget = 1900

  /** Forces the FULL plan through the noop sink (a bare count() would let
    * Catalyst prune the projected columns and under-report scan/compute
    * cost).
    */
  def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** JIT + codegen + parquet footers + shuffle/sort/exchange paths, so the
    * first measurement does not pay JVM/codegen startup.
    */
  def warmUp(spark: SparkSession, sfDir: String): Unit =
    try {
      import org.apache.spark.sql.functions._
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet").limit(10000)
      force(li.groupBy("l_returnflag").agg(sum("l_quantity")).orderBy("l_returnflag"))
    } catch { case _: Throwable => }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    // Rehearsal knob: on a real cluster shuffle partitions grow with the
    // data (the fixed-32 default models the driver's local[32] gate, not a
    // 100 TB deployment). The sf10 scale runs use this to measure the
    // partition-scaling law directly — same code, partitions sized to SF.
    // The terminal guard is off: no hash oracle runs here, and at rehearsal
    // SFs (sf1/sf10) aggregate sums legitimately cross the 2^53·1e-6
    // terminal-DOUBLE bound the correctness gate enforces — the guard
    // belongs to Verify, not to throughput measurement.
    val spark = obs.Sessions.local(cpus, guard = false,
      shufflePartitions = sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS").map(_.toInt))
    warmUp(spark, sfDir)

    // Queries run sequentially, so each run's profile is its own work.
    // gc_sec separates jvmGCTime out of task_sec: executorRunTime INCLUDES
    // time a task spent blocked in GC, so a heap-pressured suite inflates
    // task_sec without any extra work executed (the r8→r9 q164/q215
    // ambiguity this field was added for).
    def timed(run: () => Unit): Timing = {
      val (ok, p) = obs.QueryProfile.during(spark, quietWindow = false) {
        try { run(); true } catch {
          case e: Throwable =>
            System.err.println(s"[bench] failed: ${e.getMessage}"); false
        }
      }
      // after timing: unpersist cost isn't the query's; the GC lets the
      // ContextCleaner reap dead broadcasts/shuffles between runs (their
      // cleanup is reference-triggered and otherwise lands inside a later
      // run's measurement)
      spark.catalog.clearCache()
      System.gc()
      if (ok) (p.wallSec, p.taskSec, p.gcSec) else (-1.0, -1.0, -1.0)
    }
    // a failed run reports -1, never a fast fake success — the baseline
    // gate must see breakage, not a speedup; one failure poisons the median.
    // task_sec/gc_sec report the SAME rep as the wall-clock median, so the
    // numbers describe one run.
    def median(run: () => Unit): Timing = {
      val ts = (1 to reps).map(_ => timed(run))
      if (ts.exists(_._1 < 0)) (-1.0, -1.0, -1.0)
      else ts.sortBy(_._1).apply(ts.length / 2)
    }

    // the one-time shared-stage materializations, timed on their own
    // (dedupClusters builds shingles → sigs → pairs → cluster map;
    // copurchasePairs lands the order-items incidence + pair-support table
    // the graph/basket family reads — r13, guide §2.4). With reps>1
    // medians, a lazily-built stage would vanish from its first consumer's
    // median (rep 1 builds, later reps reuse), silently under-reporting
    // the suite — so each stage is forced and timed explicitly here.
    val stageBuild = timed(() => force(queries.SharedStages.dedupClusters(spark, sfDir)))
    val copairBuild = timed(() => force(queries.SharedStages.copurchasePairs(spark, sfDir)))

    // SPARK_GRAFT_ONLY=q164_triangles,q116_... restricts the run — the sf1
    // scale-rehearsal path measures just the expensive tail instead of
    // paying the full 230-query sweep at 10× data.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        name -> median(() => force(fn(spark, sfDir)))
      } :+ ("shared_stage_build" -> stageBuild) :+ ("copair_stage_build" -> copairBuild)
    def perQuery(f: Timing => Double) =
      JObject(results.map { case (k, t) => k -> JDouble(f(t)) }.toList)
    val total = results.map(_._2._1).filter(_ >= 0).sum
    // self-describing run config: the r9 scale rehearsals produced bench
    // files whose partition count and state-store provider had to be
    // reconstructed from shell history — record them in the line itself
    val provider = spark.conf
      .get("spark.sql.streaming.stateStore.providerClass", "")
      .split("\\.").lastOption.filter(_.nonEmpty).getOrElse("HDFSBackedStateStoreProvider")
    // `queries` (driver contract) = WALL seconds; the same map is repeated
    // under the explicit `wall_sec` key so a truncated or reordered tail can
    // never be mistaken for the task-time map (the r4/r5 VERDICT caught
    // exactly that unit mixup) — every per-query map in this line is
    // labeled with its unit in its own key.
    val full = compact(render(JObject(
      "metric" -> JString("total"), "value" -> JDouble(total), "unit" -> JString("sec"),
      "wall_total" -> JDouble(total),
      "task_total" -> JDouble(results.map(_._2._2).filter(_ >= 0).sum),
      "gc_total" -> JDouble(results.map(_._2._3).filter(_ >= 0).sum),
      "cpus" -> JInt(cpus),
      "shuffle_partitions" -> JInt(spark.conf.get("spark.sql.shuffle.partitions").toInt),
      "state_provider" -> JString(provider),
      "wall_sec" -> perQuery(_._1), "task_sec" -> perQuery(_._2), "gc_sec" -> perQuery(_._3),
      "queries" -> perQuery(_._1),
      "sf" -> JString(sfDir), "reps" -> JInt(reps))))
    // The driver captures only a ~2000-char stdout TAIL: the full per-query
    // line (~25 KB for 230 queries) gets its head truncated there and can
    // never re-parse (BENCH_r05/r06 both recorded "parsed": null). So the
    // full line also lands in out/bench.json, and the tail is the movers
    // line vs the previous out/bench.json (read BEFORE it is overwritten)
    // followed by the compact totals line.
    val prevWall = previousWall(BenchFile)
    java.nio.file.Files.createDirectories(BenchFile.getParent)
    java.nio.file.Files.writeString(BenchFile, full + "\n")
    println(full)
    tailLines(results, prevWall, sfDir, reps).foreach(println)
    // Providers first, session second: a still-loaded RocksDB provider
    // SIGSEGVs in its JNI log callback if the JVM exits under it (see
    // GraftSqlBridge.stopStateStores).
    org.apache.spark.sql.GraftSqlBridge.stopStateStores()
    spark.stop()
  }

  private val BenchFile = java.nio.file.Paths.get("out/bench.json")

  /** The `wall_sec` map of a bench.json line; empty if there is none. */
  def previousWall(path: java.nio.file.Path): Map[String, Double] =
    try {
      parse(java.nio.file.Files.readString(path)) \ "wall_sec" match {
        case JObject(fs) => fs.collect {
          case (k, JDouble(v)) => k -> v
          case (k, JInt(v)) => k -> v.toDouble
        }.toMap
        case _ => Map.empty
      }
    } catch { case _: Exception => Map.empty }

  /** The stdout tail, in print order.
    *
    * First (only when there is a previous run) the `{"metric":"delta"}`
    * movers line: entries whose wall changed >10% AND >0.15 s (the absolute
    * floor keeps planning noise on sub-second entries out), largest
    * absolute delta first, as `[prev, now]` rounded to ms, with both totals
    * so it supports a round-over-round verdict even when nothing moved.
    * LAST the compact totals line: totals plus the slowest 8 entries (the
    * complete map is in out/bench.json). Movers are dropped until both
    * lines fit [[TailBudget]].
    */
  def tailLines(results: Seq[(String, Timing)], prevWall: Map[String, Double],
      sfDir: String, reps: Int): Seq[String] = {
    def r3(x: Double) = JDouble(math.round(x * 1000) / 1000.0)
    val ok = results.filter(_._2._1 >= 0)
    val total = ok.map(_._2._1).sum
    val slowest = ok.sortBy(-_._2._1).take(8).map { case (k, t) => k -> r3(t._1) }
    val totals = compact(render(JObject(
      "metric" -> JString("total"), "value" -> JDouble(total), "unit" -> JString("sec"),
      "wall_total" -> JDouble(total),
      "task_total" -> JDouble(results.map(_._2._2).filter(_ >= 0).sum),
      "n_queries" -> JInt(results.length), "queries" -> JObject(slowest.toList),
      "queries_truncated_to_slowest" -> JInt(8),
      "detail" -> JString("out/bench.json"), "sf" -> JString(sfDir), "reps" -> JInt(reps))))
    if (prevWall.isEmpty) Seq(totals)
    else {
      val movers = ok.flatMap { case (k, t) =>
        prevWall.get(k).filter(p => p > 0 &&
          math.abs(t._1 - p) / p > 0.10 && math.abs(t._1 - p) > 0.15)
          .map(p => (k, p, t._1))
      }.sortBy { case (_, p, w) => -math.abs(w - p) }
      def delta(shown: List[JField]) = compact(render(JObject(
        "metric" -> JString("delta"), "unit" -> JString("sec"),
        "prev_total" -> r3(prevWall.values.filter(_ >= 0).sum), "total" -> r3(total),
        "n_movers" -> JInt(movers.length), "movers" -> JObject(shown), "sf" -> JString(sfDir))))
      val budget = TailBudget - totals.length - 1 // the newline between the two
      var used = delta(Nil).length
      val shown = List.newBuilder[JField]
      var first = true
      movers.foreach { case (k, p, w) =>
        val item: JField = k -> JArray(List(r3(p), r3(w)))
        val need = compact(render(JObject(item))).length - 2 + (if (first) 0 else 1)
        if (used + need <= budget) { shown += item; used += need; first = false }
      }
      Seq(delta(shown.result()), totals)
    }
  }
}
