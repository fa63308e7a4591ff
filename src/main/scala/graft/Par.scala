package graft

/** FUSED FAN-OUT — run independent legs of one unit of work
  * concurrently: a crawl batch's store legs (the text seal vs each
  * modality's mark+label+seal chain vs the prep flags scoring leg),
  * a multi-table seal's staging writes (Dedup.taggedSegmentAppend),
  * a delta derivation's per-modality branches. The per-batch cost
  * of the at-ingest capstones is dominated by Spark JOB COUNT, not
  * data — ~30 small sequential jobs per 3-modality batch, each
  * paying scheduler + plan-compilation latency while the cores
  * idle. Spark's scheduler is multi-thread-safe by design (one
  * SparkContext, many job-submitting threads), so legs that touch
  * DISJOINT state overlap instead of queueing and the fixed bill
  * drops toward the slowest leg (PLANS.md "Per-batch FIXED cost vs
  * batch grain"; PLANS.md "the prepbatch table").
  *
  * What callers deliberately do NOT fuse: the COMMIT PROTOCOL.
  * Every store still seals under its own tag, marker and lease, so
  * a batch that crashed between legs re-runs only the legs whose
  * markers are missing — the piecewise resume StreamingSpec pins.
  *
  * Failure semantics: every leg runs to completion (no mid-write
  * cancellation — a killed half-write would just be retry-cleaned,
  * but letting legs finish keeps the store states simple), then the
  * FIRST failure rethrows. An interrupt of the calling thread is
  * rethrown after the walk, carrying that failure as suppressed.
  * Legs inherit the caller's thread-locals (pool created in the
  * calling thread; Spark's localProperties are
  * InheritableThreadLocal). */
object Par {
  def run[T](legs: Seq[() => T]): Seq[T] =
    if (legs.sizeIs <= 1) legs.map(_())
    else {
      val pool =
        java.util.concurrent.Executors.newFixedThreadPool(legs.size)
      try {
        val futs = legs.map { l =>
          pool.submit(new java.util.concurrent.Callable[T] {
            def call(): T = l()
          })
        }
        var firstFailure: Throwable = null
        var interrupted: InterruptedException = null
        val out = futs.map { f =>
          try {
            // an interrupt of the CALLING thread must not abandon
            // legs mid-store-write (r19 ADVICE): remember it, keep
            // observing every remaining leg to completion, and
            // re-assert the interrupt after the walk — the
            // 'every leg runs to completion' contract holds on all
            // exits
            if (interrupted != null) Some(f.get())
            else
              try Some(f.get())
              catch {
                case ie: InterruptedException =>
                  interrupted = ie
                  Some(f.get()) // wait again, uninterrupted
              }
          } catch {
            case e: java.util.concurrent.ExecutionException =>
              if (firstFailure == null) firstFailure = e.getCause
              None
            case ie: InterruptedException =>
              // second interrupt while re-waiting: give up on THIS
              // leg's result but keep walking the rest
              if (interrupted == null) interrupted = ie
              None
          }
        }
        if (interrupted != null) {
          if (firstFailure != null) interrupted.addSuppressed(firstFailure)
          Thread.currentThread().interrupt()
          throw interrupted
        }
        if (firstFailure != null) throw firstFailure
        out.map(_.get)
      } finally { pool.shutdownNow(); () }
    }
}
