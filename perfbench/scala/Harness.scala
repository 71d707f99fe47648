package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.queries.{Protocol, SharedStages}
import graft.streaming.{Ingest, Loader}

/** Drives one perfbench workload against the compiled engine and writes
  * what it saw as JSON for `perfbench/run.py`, which turns it into metrics.
  *
  * The engine is used only through its public entry points:
  * `SparkEntry.queries`, `SharedStages`, `Ingest.toBtcusdt`,
  * `Loader.writeBatchIdempotent` / `Loader.readTable`, and the
  * `TickSocketProvider` source. Everything else is observed from outside
  * through Spark's listener APIs.
  *
  * Usage: Harness <key=value>... (keys documented in `Opts`).
  */
object Harness {

  /** Wall clock in epoch microseconds, monotonic within the process. */
  object Clock {
    private val base = System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
    def us: Long = base + System.nanoTime() / 1000L
  }

  final case class Opts(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing option $k"))
    def long(k: String): Long = apply(k).toLong
    def int(k: String): Int = apply(k).toInt
    val workload: String = apply("workload")
    val work: String = apply("work")
    val trace: Boolean = apply("trace") == "1"
  }

  def main(args: Array[String]): Unit = {
    val o = Opts(args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap)
    val out = new Out(o.trace)
    out.put("launch_us", o.long("launch_us"))
    val cpus = o.int("cpus")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder(spark, o.trace, out)
    try {
      // warm-up: JIT, codegen and the shuffle/exchange path, on a source
      // every workload has
      forceNoop(spark.range(0, 200000, 1, cpus).selectExpr("id % 97 AS k", "id")
        .groupBy("k").count())
      out.put("session_ready_us", Clock.us)
      o.workload match {
        case "operator_batch" => new BatchWorkload(spark, o, rec, out).run()
        case "tick_ingest" => new IngestWorkload(spark, o, rec, out).run()
        case w => sys.error(s"unknown workload $w")
      }
    } finally {
      rec.drain()
      out.write(Paths.get(o("result")))
      GraftSqlBridge.stopStateStores()
      spark.stop()
    }
  }

  def forceNoop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Live heap: used heap after full collections, the second one after
    * Spark's ContextCleaner has had time to drop what the first one freed.
    */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }

  // ------------------------------------------------------------------ JSON

  object J {
    def str(s: String): String = {
      val b = new StringBuilder("\"")
      s.foreach {
        case '"' => b ++= "\\\""
        case '\\' => b ++= "\\\\"
        case '\n' => b ++= "\\n"
        case '\r' => b ++= "\\r"
        case '\t' => b ++= "\\t"
        case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
        case c => b += c
      }
      (b += '"').toString
    }
    def apply(v: Any): String = v match {
      case null | None => "null"
      case Some(x) => apply(x)
      case s: String => str(s)
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case b: Boolean => b.toString
      case n: Int => n.toString
      case n: Long => n.toString
      case m: collection.Map[_, _] =>
        m.map { case (k, x) => s"${str(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
      case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
      case other => str(other.toString)
    }
    def obj(kv: (String, Any)*): String = apply(collection.immutable.ListMap(kv: _*))
  }

  /** The harness's output document: scalar facts, passes and operations
    * (always), and in traced runs the spans and raw listener events.
    */
  final class Out(trace: Boolean) {
    private val fields = new java.util.concurrent.ConcurrentHashMap[String, String]()
    private val lists = new java.util.concurrent.ConcurrentHashMap[String, ConcurrentLinkedQueue[String]]()
    private val ids = new AtomicLong(0)
    def put(k: String, v: Any): Unit = fields.put(k, J(v))
    def add(list: String, json: String): Unit =
      lists.computeIfAbsent(list, _ => new ConcurrentLinkedQueue[String]()).add(json)
    def nextId(): Long = ids.incrementAndGet()
    /** A span: name, [start, end] in epoch µs, parent span id (0 = root) and
      * the id shared by every span of one query or trigger.
      */
    def span(id: Long, name: String, start: Long, end: Long, parent: Long, group: Long): Unit =
      if (trace) add("spans", J.obj("id" -> id, "name" -> name, "start_us" -> start,
        "end_us" -> end, "parent" -> parent, "group" -> group))
    def write(p: Path): Unit = {
      val parts = fields.asScala.toSeq.sortBy(_._1).map { case (k, v) => s"${J.str(k)}:$v" } ++
        lists.asScala.toSeq.sortBy(_._1).map { case (k, q) =>
          s"${J.str(k)}:${q.asScala.mkString("[\n", ",\n", "]")}" }
      Files.write(p, parts.mkString("{\n", ",\n", "}\n").getBytes("UTF-8"))
    }
  }

  // -------------------------------------------------------------- listeners

  /** Spark listener registrations. Untraced runs register only the summed
    * task run time; traced runs also record jobs, stages, tasks, blocks,
    * query-execution planning phases and codegen counters as raw events.
    */
  final class Recorder(spark: SparkSession, trace: Boolean, out: Out) {
    val taskMs = new AtomicLong(0L)
    val GroupKey = "perfbench.group"

    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          taskMs.addAndGet(m.executorRunTime)
          if (trace) out.add("tasks", J.obj(
            "stage" -> t.stageId, "end_us" -> t.taskInfo.finishTime * 1000L,
            "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
            "gc_ms" -> m.jvmGCTime, "in_bytes" -> m.inputMetrics.bytesRead,
            "in_rows" -> m.inputMetrics.recordsRead,
            "out_bytes" -> m.outputMetrics.bytesWritten,
            "sw_bytes" -> m.shuffleWriteMetrics.bytesWritten,
            "sr_bytes" -> m.shuffleReadMetrics.totalBytesRead,
            "fetch_ms" -> m.shuffleReadMetrics.fetchWaitTime,
            "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled)))
        }
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = if (trace) {
        val p = Option(j.properties)
        def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
        out.add("jobs", J.obj("job" -> j.jobId, "start_us" -> j.time * 1000L,
          "group" -> prop(GroupKey).map(_.toLong),
          "batch" -> prop("streaming.sql.batchId").map(_.toLong),
          "stages" -> j.stageIds))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = if (trace)
        out.add("job_ends", J.obj("job" -> j.jobId, "end_us" -> j.time * 1000L))
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = if (trace) {
        val i = s.stageInfo
        out.add("stages", J.obj("stage" -> i.stageId,
          "start_us" -> i.submissionTime.map(_ * 1000L),
          "end_us" -> i.completionTime.map(_ * 1000L), "tasks" -> i.numTasks))
      }
      override def onBlockUpdated(b: SparkListenerBlockUpdated): Unit = if (trace) {
        val i = b.blockUpdatedInfo
        if (i.storageLevel.isValid && i.blockId.isRDD)
          out.add("blocks", J.obj("t_us" -> Clock.us, "bytes" -> (i.memSize + i.diskSize)))
      }
    })

    if (trace) spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        record(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        record(qe)
      private def record(qe: QueryExecution): Unit = {
        val ph = qe.tracker.phases
        val planMs = Seq("analysis", "optimization", "planning")
          .flatMap(ph.get).map(_.durationMs).sum
        val start = ph.values.map(_.startTimeMs).minOption
        out.add("plans", J.obj("start_us" -> start.map(_ * 1000L), "plan_ms" -> planMs))
      }
    })

    /** Streaming progress is needed untraced too on `tick_ingest`: the
      * source offsets map each tick to the batch that committed it.
      */
    def watchStreams(): Unit =
      spark.streams.addListener(new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
          val p = e.progress
          val src = p.sources.headOption
          out.add("progress", J.obj(
            "batch" -> p.batchId,
            "start_us" -> java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L,
            "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue },
            "rows" -> p.numInputRows,
            "src_start" -> src.map(_.startOffset), "src_end" -> src.map(_.endOffset),
            "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum))
        }
      })

    if (trace) watchStreams()

    /** Codegen counters, snapshotted at pass edges (traced runs). */
    def codegen(tag: String): Unit = if (trace) {
      val h = CodegenMetrics.METRIC_COMPILATION_TIME
      out.add("codegen", J.obj("t_us" -> Clock.us, "tag" -> tag, "count" -> h.getCount,
        "mean_ms" -> h.getSnapshot.getMean))
    }

    /** Let the listener bus deliver everything queued so far. */
    def drain(): Unit = GraftSqlBridge.drainListenerBus(spark, 60000L)
  }

  // --------------------------------------------------------- batch workloads

  val SharedDedup = "shared.dedupClusters"
  val SharedCopairs = "shared.copurchasePairs"
  val OperatorStages: Seq[String] = Seq(SharedDedup, SharedCopairs)
  /** One entry per mechanism: a materialization loop (q117), a wedge join
    * over the shared co-purchase stage (q164) and an IVF index trained,
    * built and probed (q46); the shared dedup stage is the fourth.
    */
  val OperatorQueries: Seq[String] = Seq(
    "q117_fixpoint_chain", "q164_triangles", "q46_ann_ivf")
  /** Oracle-carrying reads of a shared stage, used to check its output. */
  val StageChecks: Map[String, String] = Map(SharedDedup -> "q60_dedup_clusters")

  final class BatchWorkload(spark: SparkSession, o: Opts, rec: Recorder, out: Out) {
    private val data = o("data")
    private val rnd = new scala.util.Random(o.long("seed"))
    private val groups: Seq[Seq[String]] = Seq(OperatorStages, OperatorQueries)
    private val oracle = SparkEntry.oracleSql

    /** Runs one entry to completion and returns its result frame (None for
      * the shared stages, which the call itself materializes) and the time
      * the query function returned.
      */
    private def runEntry(name: String, dir: String): (Option[DataFrame], Long) = name match {
      case SharedDedup => SharedStages.dedupClusters(spark, dir); (None, Clock.us)
      case SharedCopairs => SharedStages.copurchasePairs(spark, dir); (None, Clock.us)
      case q =>
        val df = SparkEntry.queries(q)(spark, dir)
        val built = Clock.us
        forceNoop(df)
        (Some(df), built)
    }

    /** One pass over the list; each entry is one operation, forced through
      * the noop sink. With `verify`, each result that has a DuckDB oracle is
      * then written out for the compare, after its timed region.
      */
    private def pass(k: Int, dir: String, verify: Boolean, passSpan: Long): Unit = {
      val order = groups.flatMap(g => rnd.shuffle(g))
      order.foreach { name =>
        val gid = out.nextId()
        rec.drain()
        val task0 = rec.taskMs.get
        spark.sparkContext.setLocalProperty(rec.GroupKey, gid.toString)
        val t0 = Clock.us
        val (df, built, err) =
          try { val (d, b) = runEntry(name, dir); (d, b, None) }
          catch { case e: Throwable => (None, Clock.us, Some(e.toString)) }
        val t1 = Clock.us
        spark.sparkContext.setLocalProperty(rec.GroupKey, null)
        rec.drain()
        val taskMs = rec.taskMs.get - task0
        // the check reads the entry's own result, or for a shared stage an
        // oracle-carrying query over the stage it just built
        val checkName = StageChecks.getOrElse(name, name)
        val checked = verify && err.isEmpty && oracle.contains(checkName)
        val dumpErr = if (!checked) None else try {
          val res = df.getOrElse(SparkEntry.queries(checkName)(spark, dir))
          res.coalesce(1).write.mode("overwrite").parquet(s"${o.work}/verify/$checkName")
          out.add("oracle", J.obj("name" -> checkName,
            "sql" -> Protocol.wrapOracleTypes(oracle(checkName), res.schema)))
          None
        } catch { case e: Throwable => Some(e.toString) }
        spark.catalog.clearCache()
        out.add("ops", J.obj("pass" -> k, "name" -> name, "start_us" -> t0,
          "built_us" -> built, "end_us" -> t1, "task_ms" -> taskMs,
          "error" -> err.orElse(dumpErr), "checked" -> (checked && dumpErr.isEmpty)))
        out.span(gid, s"query:$name", t0, t1, passSpan, gid)
        out.span(out.nextId(), "build", t0, built, gid, gid)
        out.span(out.nextId(), "execute", built, t1, gid, gid)
      }
    }

    /** A distinct spelling of the input directory per pass, so the shared
      * stages (materialized once per directory) are rebuilt in every pass.
      */
    private def alias(k: Int): String = {
      val p = Paths.get(o.work, "alias", s"p$k")
      Files.createDirectories(p.getParent)
      if (!Files.exists(p)) Files.createSymbolicLink(p, Paths.get(data).toAbsolutePath)
      p.toString
    }

    /** Pass 1 warms the session up (first-use class loading, JIT, codegen)
      * and writes its results for the oracle compare; the timed passes
      * follow, whole passes until `seconds` of them have run, at least one.
      */
    def run(): Unit = {
      val seconds = o.long("seconds")
      pass(1, alias(1), verify = true, 0L)
      out.put("setup_done_us", Clock.us)
      val wl = out.nextId()
      val t0 = Clock.us
      var k = 2
      while (k == 2 || Clock.us - t0 < seconds * 1000000L) {
        rec.codegen(s"pass$k")
        val ps = out.nextId()
        val s = Clock.us
        pass(k, alias(k), verify = false, ps)
        val e = Clock.us
        out.add("passes", J.obj("pass" -> k, "start_us" -> s, "end_us" -> e,
          "heap_mb" -> liveHeapMb()))
        out.span(ps, s"pass$k", s, e, wl, ps)
        k += 1
      }
      rec.codegen("end")
      out.span(wl, s"workload:${o.workload}", t0, Clock.us, 0L, wl)
    }
  }

  // -------------------------------------------------------------- tick ingest

  /** The reference pipeline: ticks from the WebSocket feed through
    * `TickSocketProvider`, `Ingest.toBtcusdt`, and an idempotent load per
    * micro-batch with `Loader.writeBatchIdempotent`.
    *
    * The generator serves a warm-up block, then cycles of live Poisson
    * ticks followed by a backlog; it starts cycle k once the control file
    * `go-k` exists, which this side writes when everything before that
    * cycle is committed. `bounds` lists those cumulative tick counts.
    */
  final class IngestWorkload(spark: SparkSession, o: Opts, rec: Recorder, out: Out) {
    private val bounds = o("bounds").split(',').map(_.toLong)
    private val total = bounds.last
    private val committed = new AtomicLong(0L)
    private val released = new AtomicLong(0L) // number of go files written
    private val failed = new AtomicBoolean(false)

    /** Writes the next control file once everything before it committed.
      * Runs on the main thread: draining the listener bus from inside a
      * listener callback would wait on itself.
      */
    private def release(): Unit = {
      val done = committed.get
      while (released.get < bounds.length - 1 && done >= bounds(released.get.toInt)) {
        val k = released.incrementAndGet()
        rec.drain()
        val heap = liveHeapMb()
        rec.codegen(s"cycle$k")
        out.add("cycles", J.obj("cycle" -> k, "start_us" -> Clock.us,
          "task_ms" -> rec.taskMs.get, "heap_mb" -> heap))
        Files.write(Paths.get(o("ctl"), s"go-$k"), Array.emptyByteArray)
      }
    }

    def run(): Unit = {
      val table = s"${o.work}/btcusdt"
      val markers = s"${o.work}/markers"
      val ticks = spark.readStream.format("graft.sources.TickSocketProvider")
        .option("host", "127.0.0.1").option("port", o("port")).option("transport", "ws")
        .option("maxPerTrigger", o("max_per_trigger"))
        .option("numPartitions", o("cpus"))
        .load()
      val ended = new java.util.concurrent.CountDownLatch(1)
      if (!o.trace) rec.watchStreams()
      spark.streams.addListener(new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
          if (e.exception.isDefined) { failed.set(true); out.put("stream_error", e.exception.get) }
          ended.countDown()
        }
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
          e.progress.sources.headOption.foreach(s => committed.set(s.endOffset.toLong))
          if (committed.get >= total) ended.countDown()
        }
      })
      val query = Ingest.toBtcusdt(ticks).writeStream
        .option("checkpointLocation", s"${o.work}/checkpoint")
        .foreachBatch { (df: DataFrame, batchId: Long) =>
          val t0 = Clock.us
          Loader.writeBatchIdempotent(df, table, batchId, markers)
          val t1 = Clock.us
          out.add("loads", J.obj("batch" -> batchId, "start_us" -> t0, "end_us" -> t1))
          out.span(out.nextId(), "loader", t0, t1, 0L, -batchId - 1)
        }
        .start()
      val deadline = System.currentTimeMillis() + o.long("timeout_s") * 1000L
      while (ended.getCount > 0 && System.currentTimeMillis() < deadline) {
        release()
        ended.await(2, java.util.concurrent.TimeUnit.MILLISECONDS)
      }
      val end = Clock.us
      rec.drain()
      rec.codegen("end")
      out.add("cycles", J.obj("cycle" -> bounds.length, "start_us" -> end,
        "task_ms" -> rec.taskMs.get, "heap_mb" -> liveHeapMb()))
      query.stop()
      out.put("committed", committed.get)
      // verification read-back, after the timed region
      Loader.readTable(spark, table).coalesce(1).write.mode("overwrite")
        .parquet(s"${o.work}/landed")
      if (failed.get || committed.get < total) out.put("ingest_incomplete", true)
    }
  }
}
