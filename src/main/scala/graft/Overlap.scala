package graft

import java.util.concurrent.{Callable, ExecutionException, Executors}

/** The one runner for independent build chains: the warehouse's
  * family builds ([[ComposedArtifacts]]) and the ingest stages
  * ([[IngestDemo]]) both overlap their chains through it.
  */
object Overlap {

  /** Run independent store-build chains concurrently from a driver
    * thread pool (optimization round 18, guide §2.6 "overlap
    * independent jobs"): chains that share no data would otherwise
    * leave the cluster idle through each one's driver latency and
    * write-commit tail. The pool is created INSIDE the call so its
    * threads inherit the caller's Spark local properties (they are
    * InheritableThreadLocal) — job group and span tags keep
    * attributing to the caller. Results are unchanged: each chain is
    * internally sequential and deterministic; only the interleaving
    * moves. Every chain runs to its end before the first failure (in
    * argument order) is rethrown, so no chain outlives the call.
    */
  def inParallel(work: (() => Unit)*): Unit = {
    val pool = Executors.newFixedThreadPool(work.size)
    try {
      val futs = work.map { w =>
        pool.submit(new Callable[Unit] { def call(): Unit = w() })
      }
      val errs = futs.flatMap { f =>
        try { f.get(); None }
        catch { case e: ExecutionException => Some(e.getCause) }
      }
      errs.headOption.foreach { e =>
        errs.tail.foreach(e.addSuppressed)
        throw e
      }
    } finally pool.shutdown()
  }
}
