package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{ProbeCorpus, Sessions}
import graft.ops.Relational
import graft.streaming.EventStreams
import graft.warehouse.{BenchInputs, Pipeline, PipelineDemo}

/** One benchmark process: runs one workload closed-loop (the next call
  * starts only when the previous one returned) and writes the recorder's
  * spans, counters and output checks as JSON to `--out`. perfbench/run.py
  * builds this, launches it in a fresh JVM and turns the record into the
  * reported metrics.
  *
  * Usage: Main --workload lfb_dag|events_ingest --seed N --seconds S
  *             --trace 0|1 --work DIR --out FILE
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val heap = new PeakHeap
    val work = Paths.get(opt("work"))
    Files.createDirectories(work)
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val rec = new Recorder(trace,
      s"$workload-$seed-${ProcessHandle.current().pid()}")
    val run: Workload = workload match {
      case "lfb_dag"       => new LfbDag(rec, seed, work)
      case "events_ingest" => new EventsIngest(rec, seed, work, cores)
      case w               => sys.error(s"unknown workload '$w'")
    }
    val summary = run.measure(seconds)
    rec.drain()
    val jvmStart =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
    Files.writeString(Paths.get(opt("out")), rec.toJson(summary ++ Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "jvm_start" -> jvmStart, "peak_rss_mb" -> peakRssMb(),
      "peak_heap_mb" -> heap.peakMb)))
    run.spark.stop()
  }

  /** VmHWM of this process, in MB. */
  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
}

/** Largest heap in use right after any garbage collection of this JVM:
  * the live data the run held, as far as collections sampled it. A peak
  * that lives between two collections is missed.
  */
final class PeakHeap {
  import java.lang.management.ManagementFactory
  import javax.management.{NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo
  import scala.jdk.CollectionConverters._

  @volatile private var peak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val listener: NotificationListener = (n, _) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { peak = math.max(peak, used) }
    }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(
    _.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null))

  def peakMb: Double = peak / (1024.0 * 1024.0)
}

/** A workload: set-up in the constructor, then `measure` makes the timed
  * calls (how many may depend on `seconds`) and returns the counts and
  * checks for the record.
  */
trait Workload {
  def spark: SparkSession
  def measure(seconds: Double): Map[String, Any]
}

/** The paper's batch DAG: `Pipeline.run` (extract → checks → cleanse →
  * dimensions → fact → aggregates) over a generated LFB corpus of `Rows`
  * incidents, once per process. The DAG runs cold, in a fresh JVM, as each
  * reference stage runs as its own spark-submit; a second DAG in the same
  * JVM would run warm and measure something else, so a run times exactly
  * one. The seed picks the row-id window of `Fixtures.writeScaledLfbSpark`:
  * the distribution is fixed and the rows differ.
  */
final class LfbDag(rec: Recorder, seed: Long, work: Path) extends Workload {
  private val rows = LfbDag.Rows
  // Row ids stay below 1e9 so every window infers the same CSV column types.
  private val startId = math.floorMod(seed, 5000L) * rows
  private val dir = work.resolve("corpus")

  val spark: SparkSession = rec.span("session", "setup") { _ =>
    PipelineDemo.buildSession(work, Some(rows.toInt), fromMarker = false)
  }
  rec.attach(spark)

  // Set-up generates the corpus Setups times so the reported set-up time
  // can be a median.
  private val inputs = (1 to LfbDag.Setups).map { _ =>
    rec.span("generate", "prepare") { _ =>
      BenchInputs.write(spark, Files.createDirectories(dir), rows, startId)
    }
  }.last

  /** One DAG → check round. `seconds` is not used: one cold DAG is the
    * smallest unit and already outlasts the measuring window at this size.
    */
  def measure(seconds: Double): Map[String, Any] = {
    rec.span("iteration 0", "iteration") { it =>
      it.attrs("input_bytes") = Main.bytesUnder(dir)
      val staging = dir.resolve("staging")
      var stages = Seq.empty[(String, Double)]
      try rec.span("dag", "dag") { d =>
        try stages = Pipeline.run(spark, inputs, Pipeline.Paths(staging.toString))
        finally d.attrs("stages") = stages
      } catch { case NonFatal(e) => it.attrs("error") = e.toString }
      rec.span("check", "check") { c =>
        val wh = Paths.get(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
        c.attrs("output_bytes") = Main.bytesUnder(staging) + Main.bytesUnder(wh)
        if (stages.size == Pipeline.stageOrder.size) {
          val factRows = spark.table("lfb_call").count()
          c.attrs("fact_rows") = factRows
          c.attrs("fact_ok") = factRows == rows
          c.attrs("aggregates_ok") = Seq("per_month", "per_ward", "types_per_ward",
            "per_location_type").forall(t => !spark.table(s"analytics.$t").isEmpty)
        }
      }
    }
    Map("rows_per_iteration" -> rows)
  }
}

object LfbDag {
  /** Incidents per DAG: a tenth of the real LFB corpus (~1.5M). */
  val Rows = 150000L
  val Setups = 3
}

/** Incremental ingest: ordered landings of the event stream, each
  * appended to a landing zone and then maintained by
  * `EventStreams.rollupIngest` and `EventStreams.scd2Ingest`. Landing `l`
  * is copy `window + l` of a seeded base table, replicated with the
  * `ProbeCorpus.eventsCopies` recipe (per-copy time shift and id offsets,
  * so landings arrive in event-time order).
  */
final class EventsIngest(rec: Recorder, seed: Long, work: Path, cores: Int)
    extends Workload {
  private val base = work.resolve("base").toString
  private val src = work.resolve("landing").toString
  private val state = work.resolve("state")
  // Copy windows of 64 landings; a copy spans 7 h (6 h of events plus the
  // recipe's 1 h gap), so 64 × 500 windows stay before 2100.
  private val window = math.floorMod(seed, 500L).toInt * EventsIngest.MaxLandings

  val spark: SparkSession = rec.span("session", "setup") { _ =>
    Sessions.local(cores.toString)
  }
  rec.attach(spark)

  // Set-up writes the base table Setups times so the reported set-up time
  // can be a median.
  private val span = (1 to EventsIngest.Setups).map { _ =>
    rec.span("generate", "prepare") { _ =>
      EventsIngest.baseEvents(spark, seed).write.mode("overwrite")
        .parquet(s"$base/events.parquet")
      ProbeCorpus.eventSpan(spark, base)
    }
  }.last

  private def landing(copy: Int): DataFrame =
    ProbeCorpus.eventsCopies(spark, base, span, copy, copy + 1, ntz = true)

  def measure(seconds: Double): Map[String, Any] = {
    val roll = state.resolve("rollup").toString
    val scd2 = state.resolve("scd2").toString
    var busy = 0.0
    var l = 0
    while (l < EventsIngest.MinLandings ||
      (busy < seconds && l < EventsIngest.MaxLandings)) {
      busy += rec.span(s"landing $l", "landing") { ls =>
        rec.span("append", "prepare") { _ =>
          landing(window + l).repartition(cores).write.mode("append").parquet(src)
        }
        val committed = rec.now()
        try {
          rec.span("rollup", "call") { _ =>
            EventStreams.rollupIngest(spark, src, roll, s"$roll-ckpt")
          }
          rec.span("scd2", "call") { _ =>
            EventStreams.scd2Ingest(spark, src, scd2, s"$scd2-ckpt")
          }
        } catch { case NonFatal(e) => ls.attrs("error") = e.toString }
        rec.now() - committed
      }
      l += 1
    }
    val checks: Map[String, Any] = rec.span("check", "check") { c =>
      val landed = spark.read.schema(EventStreams.eventSchema).parquet(src)
      val events = landed.count()
      // A state the ingests never wrote fails its check instead of the run.
      try {
        val rolled = EventStreams.readRollup(spark, roll).agg(sum("n")).head()
        c.attrs("rollup_ok") = !rolled.isNullAt(0) && rolled.getLong(0) == events
        val scd2Twin = Relational.scd2Compress(landed.select(col("user_id"),
          col("event_id"), graft.Tables.eventTimeUs(landed).as("tus"),
          Relational.floorDivExact(
            expr("cast(get_json_object(props, '$.k') as bigint)"), 25L).as("tier")))
          .drop("anchor_eid")
        c.attrs("scd2_ok") = EventsIngest.fingerprint(EventStreams.readScd2(spark, scd2)) ==
          EventsIngest.fingerprint(scd2Twin)
      } catch { case NonFatal(e) => c.attrs("error") = e.toString }
      Map("events" -> events,
        "landed_bytes" -> Main.bytesUnder(Paths.get(src)),
        "state_bytes" -> (Main.bytesUnder(state.resolve("rollup")) +
          Main.bytesUnder(state.resolve("scd2"))))
    }
    checks ++ Map("landings" -> l, "events_per_landing" -> span.n)
  }
}

object EventsIngest {
  /** Base table: one landing's worth of events over a 6-hour span. */
  val EventsPerLanding = 20000L
  val Users = 1500L
  val MinLandings = 4
  val MaxLandings = 64
  val Setups = 3

  /** Order-independent fingerprint of a frame: its row count and the sum
    * of a 64-bit hash of every row (columns taken by name). Two frames with
    * equal fingerprints hold the same multiset of rows up to a hash
    * collision; one aggregation pass each instead of two set differences.
    */
  def fingerprint(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.select(count(lit(1)),
      sum(xxhash64(df.columns.sorted.toIndexedSeq.map(col): _*)
        .cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getDecimal(1))
  }

  /** Seeded synthetic events in the `EventStreams.eventSchema` shape: five
    * event types, values in [0, 560.2], a JSON `k` in [0, 100) that the
    * SCD2 maintenance tiers on, `ts` increasing with `event_id`.
    */
  def baseEvents(spark: SparkSession, seed: Long): DataFrame = {
    def draw(salt: Int, mod: Long) =
      pmod(xxhash64(lit(seed), col("id"), lit(salt)), lit(mod))
    val t0Us = 1704067200L * 1000000L // 2024-01-01T00:00Z
    val stepUs = 6L * 3600L * 1000000L / EventsPerLanding
    spark.range(0, EventsPerLanding, 1, 4).select(
      col("id").as("event_id"),
      timestamp_micros(lit(t0Us) + col("id") * stepUs + draw(1, stepUs))
        .cast("timestamp_ntz").as("ts"),
      draw(2, Users).as("user_id"),
      element_at(array(Seq("click", "view", "purchase", "signup", "error").map(lit): _*),
        (draw(3, 5L) + 1).cast("int")).as("event_type"),
      (draw(4, 56021L) / 100.0).as("value"),
      concat(lit("{\"k\": "), draw(5, 100L).cast("string"), lit("}")).as("props"))
  }
}
