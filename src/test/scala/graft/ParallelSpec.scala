package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.util.Parallel

/** The driver-thread pool behind `Pipeline.run`'s concurrent steps and
  * `SnapshotTable.copyTreeParallel`. */
class ParallelSpec extends AnyFunSuite {

  private def livePoolThreads: Set[Thread] =
    Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName.startsWith("graft-parallel-") && t.isAlive).toSet

  test("runs every task at once and returns results in task order") {
    // each task waits until all three have started: only a pool of
    // three concurrent threads gets past the latch
    val together = new CountDownLatch(3)
    val out = Parallel.all((1 to 3).map { i => () =>
      together.countDown()
      assert(together.await(30, TimeUnit.SECONDS), "tasks did not run concurrently")
      i * 10
    })
    assert(out == Seq(10, 20, 30))
    assert(livePoolThreads.isEmpty)
  }

  test("never runs more than `threads` tasks at a time") {
    val running = new AtomicInteger()
    val peak = new AtomicInteger()
    Parallel.all((1 to 12).map { _ => () =>
      peak.accumulateAndGet(running.incrementAndGet(), (a, b) => math.max(a, b))
      Thread.sleep(5)
      running.decrementAndGet()
    }, threads = 3)
    assert(peak.get() >= 1 && peak.get() <= 3)
  }

  test("rethrows the failing task's own exception, skips unstarted tasks, and leaves no thread") {
    val ran = new AtomicInteger()
    val e = intercept[IllegalStateException] {
      Parallel.all(Seq[() => Int](
        () => throw new IllegalStateException("boom"),
        () => { ran.incrementAndGet(); 1 },
        () => { ran.incrementAndGet(); 2 }), threads = 1)
    }
    assert(e.getMessage == "boom")
    assert(ran.get() == 0, "tasks queued behind the failure must be cancelled")
    assert(livePoolThreads.isEmpty)
  }

  test("a running sibling finishes before the failure is rethrown") {
    val sibling = new CountDownLatch(1)
    val finished = new AtomicInteger()
    intercept[ArithmeticException] {
      Parallel.all(Seq[() => Int](
        () => { sibling.await(30, TimeUnit.SECONDS); Thread.sleep(50); finished.incrementAndGet() },
        () => { sibling.countDown(); throw new ArithmeticException("fail") }))
    }
    assert(finished.get() == 1)
    assert(livePoolThreads.isEmpty)
  }

  test("no tasks is no work") {
    assert(Parallel.all(Seq.empty[() => Int]).isEmpty)
  }
}
