package graft.obs

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.json4s._

/** Totals of the tasks of one stage that ended inside a profiled block. */
final case class StageProfile(id: Int, name: String, tasks: Long,
    runMs: Long, cpuMs: Long, gcMs: Long,
    shuffleReadBytes: Long, shuffleReadRecords: Long,
    shuffleWriteBytes: Long, shuffleWriteRecords: Long,
    spillBytes: Long, outputBytes: Long) {

  def toJson: JObject = JObject(
    "id" -> JInt(id), "name" -> JString(name), "tasks" -> JLong(tasks),
    "task_sec" -> JDouble(runMs / 1e3), "cpu_sec" -> JDouble(cpuMs / 1e3),
    "gc_sec" -> JDouble(gcMs / 1e3),
    "shuffle_read_bytes" -> JLong(shuffleReadBytes),
    "shuffle_read_records" -> JLong(shuffleReadRecords),
    "shuffle_write_bytes" -> JLong(shuffleWriteBytes),
    "shuffle_write_records" -> JLong(shuffleWriteRecords),
    "spill_bytes" -> JLong(spillBytes), "output_bytes" -> JLong(outputBytes))
}

/** Where one block of work spent its time, as Spark's scheduler saw it.
  *
  * `taskSec` is summed executor run time (it includes time blocked in GC,
  * which `gcSec` separates out). `driverGapSec` is wall time not covered by
  * any running job: planning, persist bookkeeping and scheduling, which the
  * wall-vs-task split alone cannot attribute. `lastQuery` is the last SQL
  * execution that finished in the block (for a forced DataFrame, the write
  * itself), so its plan is the final, post-AQE one.
  *
  * `codegenClasses` counts the generated classes compiled in the block (the
  * JVM-wide count of Spark's compile-time histogram, so a concurrent query
  * shows too); a warm block that reruns known plans should read 0.
  * `codegenMs` estimates their compile time as count × the histogram's
  * sampled mean, since Spark keeps no exact sum.
  */
final case class QueryProfile(wallSec: Double, jobs: Int, driverGapSec: Double,
    stages: Seq[StageProfile], lastQuery: Option[QueryExecution],
    codegenClasses: Long, codegenMs: Double) {

  def taskSec: Double = stages.map(_.runMs).sum / 1e3
  def cpuSec: Double = stages.map(_.cpuMs).sum / 1e3
  def gcSec: Double = stages.map(_.gcMs).sum / 1e3
  def shuffleWriteRecords: Long = stages.map(_.shuffleWriteRecords).sum

  /** The final physical plan of [[lastQuery]], `explain("formatted")` style. */
  def finalPlan: Option[String] = lastQuery.map(_.explainString(FormattedMode))

  /** Totals plus the `topStages` stages with the most task time. */
  def toJson(topStages: Int): JObject = {
    def sum(f: StageProfile => Long) = JLong(stages.map(f).sum)
    JObject(
      "wall_sec" -> JDouble(wallSec), "task_sec" -> JDouble(taskSec),
      "cpu_sec" -> JDouble(cpuSec), "gc_sec" -> JDouble(gcSec),
      "jobs" -> JInt(jobs), "driver_gap_sec" -> JDouble(driverGapSec),
      "codegen_classes" -> JLong(codegenClasses), "codegen_ms" -> JDouble(codegenMs),
      "stages" -> JInt(stages.size), "tasks" -> sum(_.tasks),
      "shuffle_read_bytes" -> sum(_.shuffleReadBytes),
      "shuffle_write_bytes" -> sum(_.shuffleWriteBytes),
      "shuffle_write_records" -> sum(_.shuffleWriteRecords),
      "spill_bytes" -> sum(_.spillBytes), "output_bytes" -> sum(_.outputBytes),
      "top_stages" -> JArray(stages.sortBy(-_.runMs).take(topStages).map(_.toJson).toList))
  }
}

object QueryProfile {

  /** Runs `body` and profiles the Spark work it caused.
    *
    * One listener is registered for the block. Stage events arrive after
    * the action returns, so each edge first drains the listener bus, then
    * (with `quietWindow`) waits until the shuffle-write record count has
    * been stable for three 200 ms samples, which covers stragglers posted
    * during the drain itself. The runtime shuffle budgets in the specs need
    * that window; a timing loop can skip it, since the drain alone delivers
    * every event posted before it.
    */
  def during[T](spark: SparkSession, quietWindow: Boolean = true)(body: => T): (T, QueryProfile) = {
    val rec = new Recorder
    def settle(): Unit = {
      try GraftSqlBridge.drainListenerBus(spark, 30000)
      catch { case _: Throwable => }
      if (quietWindow) {
        var (prev, n) = (-1L, 0)
        while (n < 3) {
          Thread.sleep(200)
          val cur = rec.shuffleWriteRecords
          if (cur == prev) n += 1 else { prev = cur; n = 0 }
        }
      }
    }
    spark.sparkContext.addSparkListener(rec)
    try {
      settle()
      rec.reset()
      val (n0, ms0) = compiled()
      val t0 = System.nanoTime()
      val out = body
      val t1 = System.nanoTime()
      val (n1, ms1) = compiled()
      settle()
      (out, rec.profile(t0, t1, n1 - n0, math.max(0.0, ms1 - ms0)))
    } finally spark.sparkContext.removeSparkListener(rec)
  }

  /** Classes compiled so far in this JVM, and their estimated total ms. */
  private def compiled(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount
    (n, n * h.getSnapshot.getMean)
  }

  // per-stage counters, in StageProfile field order after id and name
  private val Tasks = 0; private val Run = 1; private val Cpu = 2; private val Gc = 3
  private val ShRB = 4; private val ShRR = 5; private val ShWB = 6; private val ShWR = 7
  private val Spill = 8; private val Out = 9

  /** Listener-bus callbacks arrive on one thread; reads come from the
    * caller's, hence the lock.
    */
  private final class Recorder extends SparkListener {
    private val stages = mutable.LinkedHashMap.empty[Int, Array[Long]]
    private val names = mutable.Map.empty[Int, String]
    private val jobStarts = mutable.Map.empty[Int, Long]
    private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
    private var jobs = 0
    private var lastQuery: Option[QueryExecution] = None

    def reset(): Unit = synchronized {
      stages.clear(); names.clear(); jobStarts.clear(); jobSpans.clear()
      jobs = 0; lastQuery = None
    }

    def shuffleWriteRecords: Long = synchronized(stages.valuesIterator.map(_(ShWR)).sum)

    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      jobs += 1
      jobStarts(j.jobId) = System.nanoTime()
    }

    override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
      val now = System.nanoTime()
      jobSpans += ((jobStarts.remove(j.jobId).getOrElse(now), now))
    }

    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = synchronized {
      names(s.stageInfo.stageId) = s.stageInfo.name.takeWhile(_ != '\n')
    }

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      val m = t.taskMetrics
      if (m != null) {
        val a = stages.getOrElseUpdate(t.stageId, new Array[Long](10))
        a(Tasks) += 1
        a(Run) += m.executorRunTime
        a(Cpu) += m.executorCpuTime // ns; ms once per stage below
        a(Gc) += m.jvmGCTime
        a(ShRB) += m.shuffleReadMetrics.totalBytesRead
        a(ShRR) += m.shuffleReadMetrics.recordsRead
        a(ShWB) += m.shuffleWriteMetrics.bytesWritten
        a(ShWR) += m.shuffleWriteMetrics.recordsWritten
        a(Spill) += m.diskBytesSpilled
        a(Out) += m.outputMetrics.bytesWritten
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        val qe = GraftSqlBridge.queryExecution(end)
        if (qe.isDefined) synchronized { lastQuery = qe }
      case _ =>
    }

    /** Wall time minus the union of job intervals clipped to [t0, t1]. */
    def profile(t0: Long, t1: Long, codegenClasses: Long,
        codegenMs: Double): QueryProfile = synchronized {
      val spans = jobSpans.toSeq
        .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
        .filter(p => p._2 > p._1).sortBy(_._1)
      var covered = 0L
      var cursor = t0
      spans.foreach { case (a, b) =>
        if (b > cursor) { covered += b - math.max(a, cursor); cursor = b }
      }
      val wall = (t1 - t0) / 1e9
      val ss = stages.toSeq.map { case (id, a) =>
        StageProfile(id, names.getOrElse(id, "?"), a(Tasks), a(Run), a(Cpu) / 1000000L, a(Gc),
          a(ShRB), a(ShRR), a(ShWB), a(ShWR), a(Spill), a(Out))
      }
      QueryProfile(wall, jobs, wall - covered / 1e9, ss, lastQuery, codegenClasses, codegenMs)
    }
  }
}

/** Static physical node counts: (shuffle exchanges, broadcast exchanges,
  * cache reads). PlanBudgetSpec pins these per query with AQE off, so the
  * counted tree is the statically planned shape.
  */
object PlanCount {
  def counts(plan: SparkPlan): (Int, Int, Int) = (
    plan.collect { case _: ShuffleExchangeExec => 1 }.sum,
    plan.collect { case _: BroadcastExchangeExec => 1 }.sum,
    plan.collect { case _: InMemoryTableScanExec => 1 }.sum)
}
