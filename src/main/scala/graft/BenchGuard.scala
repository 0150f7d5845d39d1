package graft

import org.apache.spark.sql.SparkSession

/** Per-query time budget for [[Bench]]: one pathological query must never
  * turn a green round into a driver-level timeout again (round 10: two
  * quadratic-shaped queries pushed the whole bench past the driver's
  * wall-clock and the round recorded rc=124 with NO per-query data —
  * strictly worse than a bench that reports 150 good numbers and 2
  * sentinels).
  *
  * The body runs on a dedicated thread inside its own Spark job group
  * (job groups are thread-local) with `interruptOnCancel`; on budget
  * breach the group is cancelled — which kills running STAGES, covering
  * driver-side iterative loops too, since each round's jobs carry the
  * group — and the breach is reported as the bench's standard -1 error
  * sentinel. A body that ignores cancellation for `graceSec` more is
  * abandoned on its daemon thread rather than blocking the remaining
  * queries.
  */
object BenchGuard {

  // Per-process attempt counter: every timed() call gets a UNIQUE job
  // group id. Cancellation only targets the group, so an abandoned body
  // that swallowed the interrupt and keeps submitting jobs can never
  // collide with (or get spuriously cancelled alongside) a retry or a
  // later query that reused the same name.
  private val attempts = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Runs `body` under `budgetSec`; returns elapsed seconds, or -1.0 on
    * error/timeout. Cancellation and abandonment are reported through
    * `onTimeout` so the caller can distinguish a breach from a plain
    * query error in its error list. */
  def timed(spark: SparkSession, group: String, budgetSec: Double,
            graceSec: Double = 30.0, onTimeout: String => Unit = _ => ())(
            body: => Unit): Double = {
    @volatile var failed = false
    val gid = s"$group#${attempts.incrementAndGet()}"
    val t0 = System.nanoTime()
    val t = new Thread(() => {
      try {
        spark.sparkContext.setJobGroup(gid, gid, interruptOnCancel = true)
        body
      } catch { case _: Throwable => failed = true }
      finally spark.sparkContext.clearJobGroup()
    }, s"bench-$gid")
    t.setDaemon(true)
    t.start()
    t.join(math.max(1L, (budgetSec * 1000).toLong))
    if (t.isAlive) {
      onTimeout(s"$gid: budget ${budgetSec}s breached, cancelling job group")
      // AndFutureJobs: plain cancelJobGroup only kills jobs active at call
      // time — a body between actions (or one that swallows the interrupt)
      // could keep submitting jobs that run to completion, contending with
      // and skewing every later min-of-2 measurement and racing the main
      // thread's cache cleanup.
      spark.sparkContext.cancelJobGroupAndFutureJobs(gid)
      t.join(math.max(1L, (graceSec * 1000).toLong))
      if (t.isAlive) onTimeout(s"$gid: did not stop within grace, abandoned")
      -1.0
    } else if (failed) -1.0
    else (System.nanoTime() - t0) / 1e9
  }

  /** [[timed]] plus the cause of a -1 sentinel: `Some("timeout")` when the
    * budget was breached (the signal [[timed]] reports through
    * `onTimeout`), `Some("error")` when the body threw, `None` on success.
    * Lets a caller tag its error entries by cause instead of leaving a
    * crash and a breach indistinguishable. */
  def timedCause(spark: SparkSession, group: String, budgetSec: Double,
                 graceSec: Double = 30.0, onTimeout: String => Unit = _ => ())(
                 body: => Unit): (Double, Option[String]) = {
    @volatile var breached = false
    val dt = timed(spark, group, budgetSec, graceSec,
      onTimeout = msg => { breached = true; onTimeout(msg) })(body)
    (dt, if (dt >= 0) None else Some(if (breached) "timeout" else "error"))
  }
}
