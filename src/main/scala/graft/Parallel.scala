package graft

/** Bounded driver-side fan-out over independent units of work. */
object Parallel {

  /** Run `f` over `xs` on a pool of at most `par` threads, results in
    * input order; the first failure rethrows its ORIGINAL exception (the
    * loud-failure contract — an ExecutionException wrapper would change
    * the surface the specs and callers pin).
    */
  def inParallel[A, B](xs: Seq[A], par: Int)(f: A => B): Seq[B] =
    if (xs.lengthCompare(1) <= 0 || par <= 1) xs.map(f)
    else {
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(math.min(par, xs.size))
      try {
        val futs = xs.map { x =>
          pool.submit(new java.util.concurrent.Callable[B] {
            def call(): B = f(x)
          })
        }
        try futs.map(_.get())
        catch {
          case e: java.util.concurrent.ExecutionException =>
            throw e.getCause
        }
      } finally { pool.shutdownNow(); () }
    }
}
