package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's per-query budget contract: a pathological query records a
  * -1 sentinel within (budget + grace) and the harness keeps going — the
  * round-10 failure mode (one quadratic query turning the whole bench
  * into a driver-level timeout with zero per-query data) is structurally
  * impossible as long as every query runs under [[BenchGuard.timed]]. */
class BenchGuardSpec extends AnyFunSuite {

  test("fast body returns its elapsed time") {
    val spark = TestSpark.spark
    val dt = BenchGuard.timed(spark, "bg-fast", budgetSec = 60.0) {
      assert(spark.range(1000).count() == 1000L)
    }
    assert(dt > 0.0 && dt < 60.0)
  }

  test("failing body returns the -1 sentinel, not a fast time") {
    val spark = TestSpark.spark
    val dt = BenchGuard.timed(spark, "bg-fail", budgetSec = 60.0) {
      throw new RuntimeException("boom")
    }
    assert(dt == -1.0)
  }

  test("budget breach cancels the job group and returns -1 within grace") {
    val spark = TestSpark.spark
    val timeouts = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val t0 = System.nanoTime()
    // An artificially slowed query: every task sleeps far beyond the
    // budget. interruptOnCancel must kill the stage, not wait it out.
    val dt = BenchGuard.timed(spark, "bg-slow", budgetSec = 2.0,
      graceSec = 30.0, onTimeout = timeouts.add(_)) {
      spark.sparkContext.parallelize(1 to 8, 8)
        .foreach(_ => Thread.sleep(120000))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    assert(dt == -1.0)
    assert(wall < 35.0, s"guard took ${wall}s — cancellation not effective")
    assert(!timeouts.isEmpty, "breach must be reported through onTimeout")
  }

  test("timedCause tags a crash as error, not timeout") {
    val spark = TestSpark.spark
    val (dt, cause) = BenchGuard.timedCause(spark, "bg-cause-err", budgetSec = 60.0) {
      throw new NullPointerException("operator crash")
    }
    assert(dt == -1.0)
    assert(cause.contains("error"), s"cause=$cause")
    val (ok, none) = BenchGuard.timedCause(spark, "bg-cause-ok", budgetSec = 60.0) {
      assert(spark.range(10).count() == 10L)
    }
    assert(ok > 0.0 && none.isEmpty, s"success must carry no cause: $none")
  }

  test("timedCause tags a budget breach as timeout and still reports it via onTimeout") {
    val spark = TestSpark.spark
    val timeouts = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val (dt, cause) = BenchGuard.timedCause(spark, "bg-cause-slow", budgetSec = 1.0,
      graceSec = 20.0, onTimeout = timeouts.add(_)) {
      spark.sparkContext.parallelize(1 to 4, 4)
        .foreach(_ => Thread.sleep(60000))
    }
    assert(dt == -1.0)
    assert(cause.contains("timeout"), s"cause=$cause")
    assert(!timeouts.isEmpty, "the caller's onTimeout must still see the breach")
  }

  test("a breached query does not poison the next measurement") {
    val spark = TestSpark.spark
    BenchGuard.timed(spark, "bg-slow2", budgetSec = 1.0, graceSec = 20.0) {
      spark.sparkContext.parallelize(1 to 4, 4)
        .foreach(_ => Thread.sleep(60000))
    }
    val dt = BenchGuard.timed(spark, "bg-after", budgetSec = 60.0) {
      assert(spark.range(10).count() == 10L)
    }
    assert(dt > 0.0)
  }
}
