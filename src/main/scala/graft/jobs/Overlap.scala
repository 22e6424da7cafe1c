package graft.jobs

/** Overlap INDEPENDENT Spark actions from driver threads (guide §2.6):
  * Spark's scheduler happily runs several jobs at once inside one
  * application — actions are only sequential because driver code calls
  * them sequentially. A store-lifecycle query that stages three input
  * slices and then appends two disjoint batches pays ~6 ordered small
  * jobs whose tails each leave most executors idle; submitting the
  * independent ones together lets the next job's tasks back-fill the
  * current job's stragglers. At cluster scale the same overlap hides
  * the per-write commit latency of independent hourly batch folds.
  *
  * ONLY for actions with no ordering contract between them — the
  * store protocols' ordered windows (sidecar → table → manifest,
  * counters → meta, run-before-append, snapshot-frontier boundaries)
  * stay sequential in the callers; what overlaps here is strictly the
  * writes the crash-window proofs treat as unordered: input-slice
  * staging writes and same-store appends under DISTINCT batch ids
  * (disjoint `batch=<id>` directories, read-only geometry lookups).
  *
  * Failure semantics match the sequential form as closely as
  * concurrency allows: every thunk runs to completion (no
  * cancellation — a half-cancelled write would create crash-window
  * states the sequential code never produces; each write is
  * idempotent-per-id anyway), and the FIRST failure rethrows after
  * all threads finish, carrying every other failure as suppressed.
  * Threads are created per call — they inherit the caller's
  * thread-local Spark properties (job description/group) the same way
  * the sequential calls would.
  */
object Overlap {
  def all(thunks: (() => Unit)*): Unit = {
    require(thunks.nonEmpty, "Overlap.all: nothing to run")
    if (thunks.size == 1) { thunks.head.apply(); return }
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = thunks.zipWithIndex.map { case (f, i) =>
      val t = new Thread(() => {
        try f() catch { case e: Throwable => failures.add(e): Unit }
      }, s"graft-overlap-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    threads.foreach(_.join())
    val first = failures.poll()
    if (first != null) {
      failures.forEach(first.addSuppressed(_))
      throw first
    }
  }
}
