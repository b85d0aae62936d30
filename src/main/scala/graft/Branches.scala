package graft

import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit}

/** Runs independent query branches concurrently from the driver, so
  * the eager jobs each branch starts while it is built (checkpoints,
  * contiguous-id materializations, lake writes) overlap instead of
  * queuing behind one another.
  */
object Branches {

  /** Runs `thunks` on a fixed pool of `min(parallelism, n)` threads and
    * returns their results in input order. Every thunk runs to
    * completion; the first failure in input order is then rethrown.
    * The pool is shut down and drained before the call returns.
    */
  def all[T](thunks: Seq[() => T], parallelism: Int): Seq[T] = {
    require(parallelism > 0, s"parallelism must be positive, got $parallelism")
    if (thunks.isEmpty) return Seq.empty
    val pool = Executors.newFixedThreadPool(math.min(parallelism, thunks.size))
    try {
      val futures = thunks.map(t => pool.submit(new Callable[T] { def call(): T = t() }))
      futures.map { f =>
        try f.get() catch { case e: ExecutionException => throw e.getCause }
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
  }
}
