package graft

import java.nio.file.Path
import org.apache.spark.sql.SparkSession

/** The one SparkSession recipe. Every session in the program and its test
  * suite is built here, from one base conf set, so a session-config change
  * (a new legacy flag, an extensions addition) happens in one place and the
  * tests run the confs the program runs.
  *
  * The one visible difference is the [[Scaled]] profile of the warehouse
  * runner (`warehouse.PipelineDemo`, every mode), `Probe compact` and the
  * perfbench `lfb_dag` workload: corpus-sized DAG runs, where scratch disk
  * and per-task working sets bind.
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

  /** The corpus-sized warehouse DAG profile, on top of the base confs: the
    * zstd shuffle/spill codec (scratch disk binds at the 100x rung: -29%
    * scratch peak vs lz4, SCALE.md), a 1-min cleaner GC that reclaims
    * finished stages' shuffle files during the run, `<base>/warehouse` as
    * the warehouse dir and, given `rows`, shuffle partitions sized by
    * `Relational.rowSizedPartitions` (~250k rows per task, never below one
    * per core), past which the fact build's sorts spill (SCALE.md round 14).
    */
  final case class Scaled(base: Path, rows: Option[Int])

  /** The conf map of a `local[threads]` session: the base recipe, then
    * `warehouseDir`, then the `scaled` profile, each layer overriding the
    * keys it shares with the ones before. `threads` doubles as the base
    * shuffle-partition count: at local scale one partition per core is the
    * right size (the 200 default just adds scheduling overhead). Pure, so a
    * test pins the recipe without starting a session.
    */
  private[graft] def confs(threads: String, warehouseDir: Option[String] = None,
                           scaled: Option[Scaled] = None): Map[String, String] = {
    val base = Map(
      "spark.master" -> s"local[$threads]",
      "spark.sql.shuffle.partitions" -> threads,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      // Canonical events encoding is TIMESTAMP(µs) (TESTDATA ts contract);
      // this flag ONLY affects legacy INT64 TIMESTAMP(NANOS) files, which
      // Spark otherwise refuses to read — kept so old landings decode as
      // Long nanos and flow through Tables.eventTimeUs's LongType branch.
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      // FAIR scheduling across concurrently submitted jobs (guide §2.6):
      // matters ONLY when several jobs are in flight — the warm phase's
      // six chains, where the CC rounds' many small sequential jobs used
      // to queue behind the other chains' wide stages under FIFO (each
      // round = one job; a queued round stalls the whole chain). Each
      // warm chain tags its thread with its own on-demand pool
      // (`inPool`); untagged jobs land in the FIFO `default` pool. The
      // TIMED per-query phase runs one job at a time, where FAIR ≡ FIFO.
      "spark.scheduler.mode" -> "FAIR",
      "spark.sql.extensions" -> "graft.functions.GraftExtensions",
      "spark.ui.enabled" -> "false")
    val profile = scaled.fold(Map.empty[String, String])(p => Map(
      "spark.io.compression.codec" -> "zstd",
      "spark.cleaner.periodicGC.interval" -> "1min",
      "spark.sql.warehouse.dir" -> p.base.resolve("warehouse").toString,
      "spark.sql.shuffle.partitions" -> p.rows.fold(threads)(n =>
        math.max(threads.toInt, ops.Relational.rowSizedPartitions(n.toLong)).toString)))
    base ++ warehouseDir.map("spark.sql.warehouse.dir" -> _) ++ profile
  }

  /** Starts (or returns the running) session built from [[confs]]. */
  private[graft] def session(threads: String, warehouseDir: Option[String] = None,
                             scaled: Option[Scaled] = None): SparkSession = {
    val spark = SparkSession.builder().config(confs(threads, warehouseDir, scaled))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The gate session: `local[threads]` with the base recipe. */
  def local(threads: String): SparkSession = session(threads)
}
