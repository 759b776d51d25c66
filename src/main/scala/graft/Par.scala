package graft

/** Driver-side job overlap (guide §2.6): Spark's scheduler runs several
  * jobs at once inside one application — actions are only sequential
  * because driver code calls them sequentially. `run` submits
  * independent tasks on a short-lived pool and propagates the first
  * failure unwrapped. Use ONLY for tasks with no ordering dependency
  * (disjoint store directories, independent materializations); never
  * to reorder a store's batch sequence.
  *
  * Failure discipline (r20): every sibling is AWAITED before the first
  * failure propagates — callers typically delete shared temp stores in
  * a `finally`, and rethrowing while a sibling thread is still writing
  * would race that cleanup (the r19 verdict's Par.run item). The one
  * exception is an interrupt of the calling thread: `run` re-sets the
  * thread's interrupt flag, cancels the remaining tasks and rethrows the
  * `InterruptedException`. ParSpec pins both. */
private[graft] object Par {
  def run[T](tasks: (() => T)*): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
    try {
      val futs = tasks.map(t => pool.submit(new java.util.concurrent.Callable[T] {
        override def call(): T = t()
      }))
      // collect EVERY outcome first (each get() blocks until that task
      // finishes, so by the end of the map no sibling is still running),
      // then rethrow the first failure unwrapped
      val outcomes: Seq[Either[Throwable, T]] = futs.map { f =>
        try Right(f.get())
        catch {
          case e: java.util.concurrent.ExecutionException => Left(e.getCause)
          case e: InterruptedException =>
            // the caller was interrupted: keep its flag set for the code
            // above it and stop the siblings instead of awaiting them
            Thread.currentThread().interrupt()
            futs.foreach(_.cancel(true))
            throw e
          case e: Throwable => Left(e)
        }
      }
      outcomes.collectFirst { case Left(e) => e }.foreach(e => throw e)
      outcomes.map(_.toOption.get)
    } finally pool.shutdown()
  }
}
