package graft.tools

/** Driver-side overlap of INDEPENDENT Spark actions (guide §2.6): the
  * scheduler happily runs several jobs at once inside one application —
  * actions are only sequential because driver code calls them
  * sequentially — so a verb that commits several independent tables
  * (the near-dup index's shingles/sizes/hashes, a compaction's
  * per-table rewrites) submits them from a small pool and the next
  * job's tasks back-fill the tail of the previous one. Tiny-data index
  * writes are dominated by per-job scheduling + commit latency, which
  * is exactly the part overlap hides.
  *
  * Failure discipline (the Events.compactClosedSessions lesson, round
  * 18 advisory): await EVERY task — bounded — before rethrowing the
  * first failure, so the method never exits while a sibling is still
  * mutating its directory; `shutdown()` does not cancel running tasks.
  */
object DriverPool {

  /** Per-task bound on the await: a hung filesystem op must not pin a
    * verb forever, and a timed-out task leaves the same crash-consistent
    * state as any other failure. */
  private val TimeoutSec = 3600L

  /** Run `tasks` concurrently on a ≤4-thread pool; block until ALL
    * complete (or the per-task bound expires), then rethrow the first
    * failure. Single-task and empty lists run inline — no pool.
    */
  def awaitAll(tasks: Seq[() => Unit]): Unit = {
    if (tasks.sizeIs <= 1) { tasks.foreach(_.apply()); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(4, tasks.size))
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val fs = tasks.map(t => scala.concurrent.Future(t.apply()))
      val results = fs.map(f => scala.util.Try(scala.concurrent.Await
        .result(f, scala.concurrent.duration.Duration(TimeoutSec,
          java.util.concurrent.TimeUnit.SECONDS))))
      results.collectFirst { case scala.util.Failure(e) => throw e }
    } finally pool.shutdown()
  }
}
