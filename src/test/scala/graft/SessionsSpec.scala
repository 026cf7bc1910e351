package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

/** `Sessions`: the one session recipe, and `concurrently`, the in-stage
  * parallelism of `Pipeline.run`. */
class SessionsSpec extends SparkSpec {

  test("confs: the gate recipe and the scaled warehouse profile, without a session") {
    val gate = Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.scheduler.mode" -> "FAIR",
      "spark.sql.extensions" -> "graft.functions.GraftExtensions",
      "spark.ui.enabled" -> "false")
    assert(Sessions.confs("4") == gate)
    // buildSession(base = /w, rows = 150,000) at 4 cores: 150k rows size
    // to one partition, so the count stays one per core.
    val scaled = Sessions.Scaled(java.nio.file.Paths.get("/w"), Some(150000))
    assert(Sessions.confs("4", scaled = Some(scaled)) == gate ++ Map(
      "spark.io.compression.codec" -> "zstd",
      "spark.cleaner.periodicGC.interval" -> "1min",
      "spark.sql.warehouse.dir" -> "/w/warehouse"))
    // 15M rows outgrow the cores: 250k rows per partition.
    assert(Sessions.confs("4", scaled = Some(scaled.copy(rows = Some(15000000))))(
      "spark.sql.shuffle.partitions") == "60")
  }

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
