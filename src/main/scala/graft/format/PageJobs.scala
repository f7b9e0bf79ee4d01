package graft.format

import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

/** The format's one job runner: a batch of independent jobs (a chunk's page
  * encodes in [[GraftFileWriter]], a leaf's page decodes in
  * [[LeafReader.readAll]]) run on the calling thread and on helpers from
  * the JVM-wide [[pool]].
  *
  * Jobs are claimed in index order from one counter. Helpers are
  * submitted, never waited for: one that starts after the jobs ran out
  * returns at once, so when the pool is busy the caller runs every job
  * itself, at serial speed. Only jobs already claimed by a running thread
  * are waited for. A batch of one job submits no helper.
  */
private[format] object PageJobs {
  val Threads: Int = Runtime.getRuntime.availableProcessors()

  /** The JVM's one page-job pool, shared by every writer and reader:
    * daemon threads, at most one per core, started on first use.
    */
  lazy val pool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(Threads, (r: Runnable) => {
      val t = new Thread(r, "graft-encode")
      t.setDaemon(true)
      t
    })

  /** Runs `job(j, state)` for every j in `0 until n` and returns when all
    * have finished. The caller runs its jobs with `callerState`; a helper
    * calls `newState()` once it has claimed its first job. After a failure
    * the remaining jobs are claimed and skipped, and the first exception is
    * rethrown here as the same object.
    */
  def run[S <: AnyRef](n: Int, callerState: S, newState: () => S)(job: (Int, S) => Unit): Unit =
    new Batch(n, newState, job).run(callerState)

  /** [[run]] for jobs that need no per-thread state. */
  def run(n: Int)(job: Int => Unit): Unit =
    run[AnyRef](n, None, () => None)((j, _) => job(j))

  private final class Batch[S <: AnyRef](n: Int, newState: () => S, job: (Int, S) => Unit) {
    private val next = new AtomicInteger(0)
    private val unfinished = new AtomicInteger(n)
    private val failure = new AtomicReference[Throwable]()

    def run(callerState: S): Unit = {
      val helpers = math.min(Threads - 1, n - 1)
      var h = 0
      while (h < helpers) {
        pool.execute(() => drain(null.asInstanceOf[S]))
        h += 1
      }
      drain(callerState)
      try unfinished.synchronized { while (unfinished.get > 0) unfinished.wait() }
      catch { case e: InterruptedException => failure.compareAndSet(null, e); throw e }
      val f = failure.get
      if (f != null) throw f
    }

    /** Claim and run jobs until none are left. */
    private def drain(state0: S): Unit = {
      var state = state0
      var j = next.getAndIncrement()
      while (j < n) {
        if (failure.get == null) {
          try {
            if (state == null) state = newState()
            job(j, state)
          } catch { case t: Throwable => failure.compareAndSet(null, t) }
        }
        if (unfinished.decrementAndGet() == 0) unfinished.synchronized(unfinished.notifyAll())
        j = next.getAndIncrement()
      }
    }
  }
}
