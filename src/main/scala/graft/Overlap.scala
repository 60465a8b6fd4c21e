package graft

import java.util.concurrent.{ExecutionException, ExecutorCompletionService,
  Executors, TimeUnit}

import org.apache.spark.sql.SparkSession

/** Overlapped driver actions: the one thread pool the catalog, the
  * upsert sink and the correctness dump share. */
object Overlap {

  /** Run INDEPENDENT driver actions on up to 4 overlapped threads: Spark
    * schedules concurrent jobs FIFO, so a later job's tasks back-fill
    * executors freed by an earlier job's tail instead of waiting out the
    * whole job. Only for actions with no ordering between them (e.g. the
    * q217 fact/dim commits to two separate tables). Zero or one task
    * runs inline on the caller's thread.
    *
    * Every Spark job a task starts carries a per-call job tag (not a job
    * group: callers keep their own `spark.jobGroup.id`, which the pool
    * threads inherit) and is interruptible on cancel. Fail-fast
    * contract: on the FIRST failure the call cancels every job with its
    * tag, interrupts the other tasks and drops the queued ones
    * (`shutdownNow`), waits for the pool to exit, cancels the tag once
    * more for a job started in between, and rethrows the first failure
    * with the other tasks' failures suppressed. So when the call returns
    * or throws, none of its tasks is still running. */
  def inParallel(spark: SparkSession)(tasks: (() => Unit)*): Unit = {
    if (tasks.lengthCompare(1) <= 0) { tasks.foreach(_.apply()); return }
    val sc = spark.sparkContext
    val tag = s"graft-overlap-${java.util.UUID.randomUUID()}"
    // threads are created by the submits below, on this thread, so they
    // inherit its Spark local properties (job group, active session)
    val pool = Executors.newFixedThreadPool(math.min(tasks.length, 4))
    val done = new ExecutorCompletionService[Unit](pool)
    val futures = tasks.map { t =>
      done.submit { () =>
        sc.addJobTag(tag)
        sc.setInterruptOnCancel(true)
        t()
      }
    }
    try {
      futures.foreach { _ =>
        try done.take().get()
        catch { case e: ExecutionException => throw e.getCause }
      }
      pool.shutdown()
    } catch { case first: Throwable =>
      def cancel(): Unit = sc.cancelJobsWithTag(tag, "an overlapped action failed")
      cancel()
      pool.shutdownNow()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
      cancel()
      futures.filter(f => f.isDone && !f.isCancelled).foreach { f =>
        try f.get() catch {
          case e: ExecutionException if e.getCause ne first =>
            first.addSuppressed(e.getCause)
        }
      }
      throw first
    }
  }
}
