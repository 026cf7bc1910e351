package graft

import org.apache.spark.sql.SparkSession

/** The local SparkSession recipe the gate mains (Verify, Bench and most
  * Probe subcommands) build from, so a session-config change (a new
  * legacy flag, an extensions addition) happens in one place and
  * profiling never silently diverges from the benchmarked configuration.
  *
  * The one other recipe is `warehouse.PipelineDemo.buildSession`, used by
  * the warehouse runner (`PipelineDemo`, every mode), `Probe compact` and
  * the perfbench `lfb_dag` workload.
  * It differs on purpose, for corpus-sized DAG runs: zstd shuffle/spill
  * codec (scratch disk is the binding constraint there), a 1-min cleaner
  * GC that reclaims finished stages' shuffle files during the run, and,
  * given a row count, shuffle partitions sized by rows
  * (`Relational.rowSizedPartitions`) instead of by cores.
  */
object Sessions {

  /** Run `body` with this thread's jobs tagged into FAIR pool `name`
    * (created on demand), clearing the tag after — the one wrapper both
    * the warm-phase chains and their nested vector sub-builds use, so a
    * change to pool handling happens in exactly one place. Local
    * properties are per-thread: call this INSIDE the future/thread whose
    * jobs should carry the tag.
    */
  def inPool[A](spark: SparkSession, name: String)(body: => A): A = {
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", name)
    try body
    finally spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
  }

  /** Run every unit on its own thread and wait for ALL of them; results
    * come back in declaration order. This is the in-process form of the
    * reference DAG's parallel Airflow tasks inside one stage (independent
    * jobs, one barrier at the end), used by `Pipeline.run`'s stages,
    * `Aggregates.run` and `Jobs.batchSplit`.
    *
    *  - The threads are created per call by the calling thread, so each
    *    unit inherits a copy of the caller's Spark local properties (job
    *    group, `inPool` tag, any listener's span tag); a shared pool's
    *    long-lived threads would carry whatever they were created with.
    *  - Every unit runs to completion even when a sibling fails, so no
    *    job is still writing when this returns or throws. The failure
    *    rethrown is the first in declaration order, with the other
    *    failures attached as suppressed.
    */
  def concurrently[A](units: Seq[() => A]): Seq[A] = {
    val outcomes = new Array[Either[Throwable, A]](units.size)
    val threads = units.zipWithIndex.map { case (unit, i) =>
      val t = new Thread(() =>
        outcomes(i) = try Right(unit()) catch { case e: Throwable => Left(e) },
        s"graft-unit-$i")
      t.setDaemon(true)
      t
    }
    threads.foreach(_.start())
    threads.foreach(_.join()) // join orders each unit's writes before the reads below
    outcomes.collect { case Left(e) => e } match {
      case Array(first, rest @ _*) =>
        rest.foreach(e => if (e ne first) first.addSuppressed(e))
        throw first
      case _ => outcomes.toSeq.collect { case Right(a) => a }
    }
  }

  /** `local[threads]` session with the graft extensions installed.
    * `threads` doubles as the default shuffle-partition count — at local
    * scale one partition per core is the right size (the 200 default just
    * adds scheduling overhead). `SPARK_GRAFT_SHUFFLE_PARTITIONS` overrides
    * it for probe-scale experiments (AQE coalesces small partitions, so
    * over-provisioning is safe). Measured on the 300x e7b pair distinct:
    * 128 partitions read 214 s vs 165 s at 32 — the single-JVM probes are
    * disk/CPU-bound there, not per-task-memory-bound, so the knob exists
    * for cluster parity, not as a local win.
    */
  def local(threads: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", threads))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // Canonical events encoding is TIMESTAMP(µs) (TESTDATA ts contract);
      // this flag ONLY affects legacy INT64 TIMESTAMP(NANOS) files, which
      // Spark otherwise refuses to read — kept so old landings decode as
      // Long nanos and flow through Tables.eventTimeUs's LongType branch.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // FAIR scheduling across concurrently submitted jobs (guide §2.6):
      // matters ONLY when several jobs are in flight — the warm phase's
      // six chains, where the CC rounds' many small sequential jobs used
      // to queue behind the other chains' wide stages under FIFO (each
      // round = one job; a queued round stalls the whole chain). Each
      // warm chain tags its thread with its own on-demand pool
      // (spark.scheduler.pool local property; pools share fairly with
      // default weights, FIFO within a pool). The TIMED per-query phase
      // runs one job at a time, where FAIR ≡ FIFO — no timing-contract
      // change. Scale-neutral: the same policy is what a production
      // cluster runs for concurrent index builds.
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
