package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` Column ⇄ catalyst-Expression conversions —
  * the standard technique for extension libraries that ship custom Catalyst
  * expressions (Spark 4 removed the public `new Column(expr)` constructor in
  * favour of connect-agnostic column nodes).
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Strips a sort-direction wrapper (`col("x").desc`) down to its key
    * expression, at the COLUMN-NODE level — `expression(c)` returns a lazy
    * `ColumnNodeExpression`, so a catalyst-side `case so: SortOrder` match
    * never fires. Needed wherever an ordering column doubles as a grouping
    * key (GlobalCumSum.requireTotalOrder).
    */
  def stripSortOrder(c: Column): Column = c.node match {
    case so: internal.SortOrder => new Column(so.child)
    case _ => c
  }

  /** Analyzed logical plan of a Dataset (resolved attributes, stable
    * exprIds) — the child-plan input for custom logical nodes.
    */
  def analyzed(df: Dataset[_]): catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** Wrap a (custom) logical plan back into a DataFrame. */
  def ofRows(spark: SparkSession, plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A copy of `spark`'s session state (runtime conf, temp views, functions,
    * strategies) over the same SparkContext and SharedState
    * (`cloneSession` is `private[sql]`).
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** Delivers a streaming event to `spark`'s StreamingQueryListeners
    * (`postListenerEvent` is only on the classic manager).
    */
  def postStreamingEvent(spark: SparkSession, e: streaming.StreamingQueryListener.Event): Unit =
    spark.asInstanceOf[classic.SparkSession].streams.postListenerEvent(e)

  /** Unregisters from the SparkContext the streaming listener bus that
    * holds `member` (a session's StreamingQueryManager registers one bus
    * with the context and never removes it; the bus is private to the
    * manager, so it is found through a listener it holds).
    */
  def dropStreamingBus(spark: SparkSession, member: streaming.StreamingQueryListener): Unit = {
    val bus = spark.sparkContext.listenerBus
    bus.findListenersByClass[execution.streaming.runtime.StreamingQueryListenerBus]()
      .filter(_.listeners.contains(member)).foreach(bus.removeListener)
  }

  /** Idempotently add a planner strategy to this session (the
    * non-extensions path; `spark.sql.extensions=graft.GraftExtensions`
    * installs the same strategies cluster-wide).
    */
  def addStrategy(spark: SparkSession, s: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    if (!exp.extraStrategies.contains(s)) exp.extraStrategies = exp.extraStrategies :+ s
  }

  /** Rewrites a checkpointed Dataset's `LogicalRDD` to carry FRESH
    * statistics instead of the origin plan's (r13, guide §7.3).
    *
    * Why: a checkpoint (block or reliable) copies the ORIGIN plan's
    * sizeInBytes estimate onto the LogicalRDD. An iterative operator that joins a round's
    * checkpoint WITH ITSELF (ConnectedComponents' pointer-double step)
    * SQUARES that estimate every round; seeded from a streaming
    * micro-batch (default, i.e. huge, stats) the BigInts reach millions of
    * bits within ~15 rounds and `rewriteStatsAndConstraints` inside the
    * next checkpoint call grinds the driver for minutes. This helper
    * replaces the estimate with one derived from the MATERIALIZED row
    * count — the number the blocks actually hold — so nothing compounds.
    * Constraints are dropped with the stats (same staleness argument).
    * No-op for plans that are not a bare LogicalRDD.
    */
  def withStats(df: Dataset[_], sizeInBytes: BigInt,
      rowCount: Option[BigInt]): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    ds.queryExecution.analyzed match {
      case lr: execution.LogicalRDD =>
        val fresh = new execution.LogicalRDD(
          lr.output, lr.rdd, lr.outputPartitioning, lr.outputOrdering,
          lr.isStreaming, lr.stream)(ds.sparkSession,
          Some(catalyst.plans.logical.Statistics(sizeInBytes, rowCount)),
          None)
        classic.Dataset.ofRows(ds.sparkSession, fresh)
      case _ => ds.toDF()
    }
  }

  /** Sets `key` on the running SparkContext's conf unless it is already set
    * (`SparkContext.conf` is `private[spark]`). A static SQL conf set here
    * before a session's SharedState exists reaches that session.
    */
  def setContextConfIfMissing(key: String, value: String): Unit =
    org.apache.spark.SparkContext.getActive.foreach(_.conf.setIfMissing(key, value))

  /** The running SparkContext's Hadoop conf, the one every session's
    * Hadoop conf is copied from (`SparkContext.getActive` is
    * `private[spark]`).
    */
  def activeHadoopConf: Option[org.apache.hadoop.conf.Configuration] =
    org.apache.spark.SparkContext.getActive.map(_.hadoopConfiguration)

  /** Block until the listener bus has delivered all queued events —
    * `private[spark]`, needed to attribute SparkListener task metrics to
    * the query that just ran (graft.obs.QueryProfile).
    */
  def drainListenerBus(spark: SparkSession, timeoutMs: Long): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)

  /** The query an SQL execution ran (`private[sql]` on the event), so a
    * listener can keep the final, post-AQE plan of what it observed.
    */
  def queryExecution(e: execution.ui.SparkListenerSQLExecutionEnd): Option[execution.QueryExecution] =
    Option(e.qe)

  /** Orderly shutdown of all loaded state-store providers BEFORE the JVM
    * starts exiting. With the RocksDB provider, native background threads
    * (compaction/flush) log through a JNI callback; if the provider is
    * still loaded when the JVM tears down, that callback can no longer
    * attach its thread and the process dies SIGSEGV inside
    * LoggerJniCallback::Logv — measured in the sf10 rehearsal (the bench
    * completed, then aborted with exit 134 at shutdown). Closing providers
    * while the JVM is healthy joins those threads cleanly. No-op for the
    * default in-memory provider.
    */
  def stopStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
}
