package graft.operators

/** Overlap INDEPENDENT Spark actions from a small driver-side thread pool
  * (optimization guide §2.6): Spark's scheduler happily runs several jobs
  * at once inside one application — actions are only sequential because
  * driver code calls them sequentially — so the next job's tasks
  * back-fill executors left idle by the current job's straggler tail.
  * The engine's fixture/build chains (ten standalone index builds in the
  * takedown row, five gram-table writes per order-5 model build, model
  * build + file staging in every streaming fixture) are exactly such
  * independent actions: each writes its own artifact directory or pins
  * its own checkpoint, shares nothing but the immutable input frames,
  * and mutates no session configuration (verified per call site — the
  * conf-bracketing bodies, `withBatchParallelism`/`indexHealth`, are
  * never run through this).
  *
  * Determinism: results return in INPUT order regardless of completion
  * order, so callers' outputs cannot depend on scheduling. Failure: the
  * first thrown cause is rethrown (after all threads settle), matching
  * the sequential loop's fail-loud behavior. An interrupted caller
  * interrupts the thunks and rethrows once every thunk has finished.
  *
  * The default pool width (4) is deliberately small — enough to fill
  * straggler tails, not enough to thrash the scheduler or multiply peak
  * memory (guide §2.6: "2-3 jobs in flight is plenty"). Single-element
  * input runs inline (no pool, no thread hop).
  */
private[graft] object Par {

  def run[A](thunks: Seq[() => A], maxThreads: Int = 4): Seq[A] = {
    if (thunks.sizeIs <= 1) return thunks.map(_())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(maxThreads, thunks.size))
    try {
      val futs = thunks.map { t =>
        pool.submit(new java.util.concurrent.Callable[A] {
          def call(): A = t()
        })
      }
      // get() EVERY future before rethrowing (r20, ADVICE r19): bailing on
      // the first failure left in-flight Spark writes running on zombie
      // threads while the caller unwound — and callers (purgeEverywhere,
      // the stream fixtures) may clean up directories those threads are
      // still writing. Collecting all results first means every thread
      // has genuinely settled when the earliest-index failure is rethrown.
      val outs = futs.map { f =>
        try Right(f.get())
        catch {
          case e: java.util.concurrent.ExecutionException =>
            Left(Option(e.getCause).getOrElse(e))
          // the CALLER was interrupted: interrupt the running thunks, drop
          // the queued ones, and rethrow only once every thunk has finished
          case ie: InterruptedException =>
            pool.shutdownNow()
            while (!pool.isTerminated)
              try pool.awaitTermination(1, java.util.concurrent.TimeUnit.SECONDS)
              catch { case _: InterruptedException => () }
            throw ie
        }
      }
      outs.collectFirst { case Left(e) => e }.foreach(throw _)
      outs.collect { case Right(a) => a }
    } finally {
      pool.shutdown()
      // threads are settled (every future was get()-awaited above, or the
      // pool drained on interrupt); this only reaps the idle pool
      pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
      ()
    }
  }

  /** [[run]] for side-effecting actions. */
  def runUnit(thunks: Seq[() => Unit], maxThreads: Int = 4): Unit = {
    run(thunks, maxThreads); ()
  }
}
