package graft.streaming

import java.util.concurrent.{Callable, ExecutionException, ExecutorCompletionService, Executors, TimeUnit}

import org.apache.spark.sql.SparkSession

/** Runs independent per-batch writes or prepares as CONCURRENT driver jobs
  * (guide §2.6): a multi-table sink's appends (IVF lists / ids / codes) or
  * a view's two prepares are order-independent — replay converges from any
  * crash point between them — so running them sequentially just
  * serializes several small jobs' scheduling+commit latencies back to
  * back. Spark's scheduler interleaves the jobs' tasks; with 2-3 in flight
  * the later jobs back-fill the earlier ones' straggler tails.
  *
  * Every task must leave the session's conf alone; a task that needs a
  * conf of its own takes it through [[graft.obs.Sessions.withConf]], as
  * [[BucketedStore.appendBatch]] does (DEPLOY.md "Scoped confs").
  *
  * On the FIRST failure the siblings are stopped before the cause (not the
  * ExecutionException wrapper) is rethrown: their Spark jobs are cancelled
  * by job tag, their threads interrupted, and the pool awaited. Otherwise
  * an orphaned write could still be running when foreachBatch retries the
  * same batch.
  */
object Concurrently {
  def apply[A](spark: SparkSession)(tasks: Seq[() => A]): Seq[A] =
    if (tasks.size <= 1) tasks.map(_())
    else {
      val sc = spark.sparkContext
      val tag = s"graft-concurrently-${java.util.UUID.randomUUID()}"
      val pool = Executors.newFixedThreadPool(tasks.size)
      val done = new ExecutorCompletionService[A](pool)
      val futures = tasks.map(t => done.submit(new Callable[A] {
        def call(): A = {
          sc.addJobTag(tag)
          try t() finally sc.removeJobTag(tag)
        }
      }))
      try {
        // completion order, so a failure is seen at once, not after its
        // slower siblings
        tasks.foreach { _ =>
          try done.take().get()
          catch { case e: ExecutionException => throw e.getCause }
        }
        futures.map(_.get())
      } catch {
        case e: Throwable =>
          sc.cancelJobsWithTag(tag)
          throw e
      } finally {
        pool.shutdownNow()
        pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
      }
    }
}
