package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

/** `Sessions.concurrently`: the in-stage parallelism of `Pipeline.run`. */
class SessionsSpec extends SparkSpec {

  test("concurrently runs every unit at once, more units than cores") {
    // Each unit waits until all n have arrived: a helper that queued units
    // behind a core-sized pool would time out instead.
    val n = Runtime.getRuntime.availableProcessors + 4
    val arrived = new CountDownLatch(n)
    val met = Sessions.concurrently((1 to n).map(_ => () => {
      arrived.countDown()
      arrived.await(60, TimeUnit.SECONDS)
    }))
    assert(met == Seq.fill(n)(true))
  }

  test("concurrently waits for running siblings, then rethrows the first failure") {
    val failed = new CountDownLatch(1)
    val siblingDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Sessions.concurrently(Seq[() => Unit](
        () => { failed.countDown(); throw new IllegalStateException("first") },
        () => { failed.await(); Thread.sleep(300); siblingDone.set(true) },
        () => { failed.await(); throw new IllegalArgumentException("later") }))
    }
    assert(siblingDone.get, "returned while a sibling unit was still running")
    assert(e.getMessage == "first")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("later"))
  }

  test("concurrently: every unit sees the caller's job group and pool tag") {
    val sc = spark.sparkContext
    sc.setJobGroup("sessions-spec", "inheritance probe")
    try {
      val seen = Sessions.inPool(spark, "sessions-spec-pool") {
        Sessions.concurrently((1 to 3).map(_ => () =>
          (sc.getLocalProperty("spark.jobGroup.id"),
            sc.getLocalProperty("spark.scheduler.pool"))))
      }
      assert(seen == Seq.fill(3)(("sessions-spec", "sessions-spec-pool")))
    } finally sc.clearJobGroup()
  }
}
