package graft.operators

/** Concurrent submission of INDEPENDENT Spark actions from the driver
  * (optimization guide §2.6): the scheduler happily runs several jobs at
  * once inside one application — actions are only sequential because
  * driver code calls them sequentially. A micro-batch that must produce
  * three artifacts (a probe result, two index-segment parts) pays three
  * serialized job walls when the artifacts share no dependency; submitted
  * together, the later jobs' tasks back-fill executors freed by the
  * earlier jobs' stragglers and the wall approaches max() instead of
  * sum(). FIFO scheduling (the default) gives exactly that back-fill.
  *
  * Scale note: this removes DRIVER-side serialization only. At gate scale
  * (sub-second jobs dominated by the per-job fixed floor) that is the
  * whole cost; at 100 TB each job saturates the cluster and overlapping
  * them merely interleaves their stages — same total work, no regression
  * (§2.6's "2-3 jobs in flight is plenty").
  *
  * Semantics: every thunk runs exactly once; the LAST thunk runs on the
  * calling thread (no thread spawn for the common 2-3-way case's tail);
  * all complete before return. The first failure (in argument order) is
  * rethrown after every thunk has finished — no thunk is ever abandoned
  * mid-write — with later failures attached as suppressed. An interrupt
  * of the calling thread does not cut the wait short: the joins are
  * uninterruptible and the interrupt flag is restored once every thunk has
  * finished, for the caller to act on.
  *
  * Thread-locals: Spark's job group / description properties are
  * inherited by child threads at creation (`InheritableThreadLocal`), so
  * concurrently submitted jobs keep the caller's labels.
  * [[CacheScope]] pins are NOT inherited — pin on the calling thread
  * before fanning out (the ingest kernels' existing shape) and the child
  * actions see the pinned blocks through the shared BlockManager.
  */
object ConcurrentJobs {

  def awaitAll(thunks: (() => Unit)*): Unit = {
    require(thunks.nonEmpty, "awaitAll of nothing")
    val failures = new Array[Throwable](thunks.size)
    val spawned = thunks.init.zipWithIndex.map { case (t, i) =>
      val th = new Thread(() =>
        try t() catch { case e: Throwable => failures(i) = e })
      th.setDaemon(true)
      th.setName(s"graft-concurrent-job-$i")
      th.start()
      th
    }
    try thunks.last()
    catch { case e: Throwable => failures(thunks.size - 1) = e }
    var interrupted = false
    spawned.foreach { th =>
      while (th.isAlive)
        try th.join()
        catch { case _: InterruptedException => interrupted = true }
    }
    if (interrupted) Thread.currentThread().interrupt()
    val firsts = failures.filter(_ != null)
    firsts.headOption.foreach { first =>
      firsts.tail.foreach { e => if (e ne first) first.addSuppressed(e) }
      throw first
    }
  }
}
