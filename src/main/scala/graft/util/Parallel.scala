package graft.util

import java.util.concurrent.{Callable, ExecutionException, ExecutorCompletionService,
  Executors, ThreadFactory}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import scala.collection.mutable.ArrayBuffer

/** Runs independent driver-side steps at once on a fixed pool of driver
  * threads, for steps whose cost is mostly per-job overhead (planning,
  * file listing, job scheduling) rather than executor work: N small
  * Spark jobs submitted together share the executor cores instead of
  * each waiting for the previous one to finish.
  *
  * Contract:
  *  - results come back in task order;
  *  - the first task to FAIL (in completion order) decides the outcome:
  *    its own exception is rethrown, not the `ExecutionException`
  *    wrapping it; tasks not yet started are skipped, and tasks already
  *    running are left to finish rather than interrupted, so no Spark
  *    write is cut off half-way;
  *  - the pool is always shut down and every one of its threads has
  *    exited before the call returns or throws.
  *
  * Pool threads are created by the calling thread, so they inherit its
  * active `SparkSession` and its Spark local properties (job group,
  * scheduler pool).
  */
object Parallel {

  private val pools = new AtomicInteger()

  /** One thread per task: for a fixed set of independent steps. */
  def all[A](tasks: Seq[() => A]): Seq[A] = all(tasks, tasks.size)

  /** At most `threads` tasks at a time. */
  def all[A](tasks: Seq[() => A], threads: Int): Seq[A] = {
    if (tasks.isEmpty) return Seq.empty
    require(threads > 0, s"threads must be positive, got $threads")
    val poolId = pools.incrementAndGet()
    val started = ArrayBuffer.empty[Thread]
    val pool = Executors.newFixedThreadPool(math.min(threads, tasks.size), new ThreadFactory {
      def newThread(r: Runnable): Thread = started.synchronized {
        val t = new Thread(r, s"graft-parallel-$poolId-${started.size}")
        t.setDaemon(true)
        started += t
        t
      }
    })
    // set by the failing task itself, before its worker can dequeue
    // another task, so a task queued behind a failure never starts
    val failed = new AtomicBoolean()
    try {
      val done = new ExecutorCompletionService[A](pool)
      val futures = tasks.map(t => done.submit(new Callable[A] {
        def call(): A =
          if (failed.get()) null.asInstanceOf[A]
          else try t() catch { case e: Throwable => failed.set(true); throw e }
      }))
      for (_ <- tasks.indices) {
        try done.take().get()
        catch { case e: ExecutionException => throw e.getCause }
      }
      futures.map(_.get())
    } finally {
      pool.shutdown()
      started.synchronized(started.toList).foreach(_.join())
    }
  }
}
