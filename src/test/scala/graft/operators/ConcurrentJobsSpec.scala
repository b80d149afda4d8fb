package graft.operators

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.scalatest.funsuite.AnyFunSuite

/** [[ConcurrentJobs.awaitAll]] semantics, without Spark: every thunk runs
  * exactly once, the first failure in ARGUMENT order wins with the later
  * ones suppressed, and an interrupt of the caller neither abandons a
  * running thunk nor drops its failure.
  */
class ConcurrentJobsSpec extends AnyFunSuite {

  test("every thunk runs exactly once, failing or not") {
    val runs = Array.fill(5)(new AtomicInteger)
    val thunks = runs.indices.map { i => () =>
      runs(i).incrementAndGet()
      if (i % 2 == 1) throw new IllegalStateException(s"thunk $i")
    }
    val thrown = intercept[IllegalStateException](ConcurrentJobs.awaitAll(thunks: _*))
    assert(thrown.getMessage == "thunk 1")
    assert(runs.map(_.get).toSeq == Seq.fill(5)(1))
  }

  test("first failure in argument order is rethrown, later ones suppressed") {
    // the spawned thunk fails LAST in time, the caller-thread thunk first
    val lastFailed = new CountDownLatch(1)
    val thrown = intercept[RuntimeException](ConcurrentJobs.awaitAll(
      () => (),
      () => {
        assert(lastFailed.await(10, TimeUnit.SECONDS))
        throw new RuntimeException("second")
      },
      () => {
        lastFailed.countDown()
        throw new RuntimeException("third")
      }))
    assert(thrown.getMessage == "second")
    assert(thrown.getSuppressed.map(_.getMessage).toSeq == Seq("third"))
  }

  test("an interrupt of the caller waits for every thunk, keeps failures and the flag") {
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val finished = new AtomicBoolean(false)
    val returned = new CountDownLatch(1)
    @volatile var outcome: Either[Throwable, Unit] = null
    @volatile var finishedAtReturn = false
    @volatile var flagAtReturn = false
    val caller = new Thread(() => {
      outcome =
        try Right(ConcurrentJobs.awaitAll(
          () => {
            started.countDown()
            release.await()
            finished.set(true)
            throw new IllegalStateException("late failure")
          },
          () => ()))
        catch { case e: Throwable => Left(e) }
      finishedAtReturn = finished.get
      flagAtReturn = Thread.currentThread().isInterrupted
      returned.countDown()
    })
    caller.start()
    assert(started.await(10, TimeUnit.SECONDS))
    caller.interrupt()
    // the interrupt must not end the wait while the spawned thunk runs
    assert(!returned.await(300, TimeUnit.MILLISECONDS))
    release.countDown()
    assert(returned.await(10, TimeUnit.SECONDS))
    caller.join()
    assert(finishedAtReturn, "awaitAll returned before its spawned thunk finished")
    assert(outcome.left.toOption.map(_.getMessage).contains("late failure"))
    assert(flagAtReturn, "the caller's interrupt flag is restored")
  }
}
