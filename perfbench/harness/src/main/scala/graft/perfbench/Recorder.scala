package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{Success, TaskEndReason}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans and Spark counters for one benchmark process, kept in memory and
  * written once at exit (`toJson`). Times are epoch seconds on one clock:
  * `now()` anchors `System.nanoTime` to the wall clock once, so span
  * bounds and the listener's epoch-millisecond event times compare.
  *
  * Spans are always recorded (the harness derives its end-to-end numbers
  * from them). With `trace = true` the recorder also tags every job a span
  * submits (the `perfbench.span` local property, which threads a span
  * starts — stream execution threads included — inherit) and registers a
  * SparkListener and a StreamingQueryListener; the analysis side
  * (perfbench/metrics.py) turns those records into per-layer metrics.
  */
final class Recorder(val trace: Boolean, val runId: String) {
  import Recorder.Span

  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis() / 1e3
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e9

  private val ids = new AtomicInteger(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val current = new ThreadLocal[Span]
  private var spark: Option[SparkSession] = None
  private val listener = new Listener
  private val streams = new Streams

  /** Run `body` as a span of `kind` under the calling thread's current
    * span. The span records failure (`ok = false`) and rethrows.
    */
  def span[A](name: String, kind: String)(body: Span => A): A = {
    val parent = Option(current.get)
    val s = Span(ids.incrementAndGet(), name, kind, parent.fold(0)(_.id),
      now(), Double.NaN, ok = false, mutable.LinkedHashMap.empty)
    spans.synchronized(spans += s)
    current.set(s)
    val sc = if (trace) spark.map(_.sparkContext) else None
    val prevTag = sc.map(_.getLocalProperty(Recorder.TagKey))
    sc.foreach(_.setLocalProperty(Recorder.TagKey, s.id.toString))
    try { val a = body(s); s.ok = true; a }
    finally {
      s.end = now()
      current.set(parent.orNull)
      sc.foreach(_.setLocalProperty(Recorder.TagKey, prevTag.orNull))
    }
  }

  /** Attach the session: with tracing on, register both listeners. */
  def attach(session: SparkSession): Unit = {
    spark = Some(session)
    if (trace) {
      session.sparkContext.addSparkListener(listener)
      session.streams.addListener(streams)
    }
  }

  /** Wait (bounded) until every started job has reported its end — the
    * listener bus is asynchronous — then detach the listeners.
    */
  def drain(): Unit = spark.filter(_ => trace).foreach { s =>
    var waited = 0
    while (!listener.quiet && waited < 100) { Thread.sleep(100); waited += 1 }
    Thread.sleep(200) // trailing stage/task events of the last job
    s.sparkContext.removeSparkListener(listener)
    s.streams.removeListener(streams)
  }

  def toJson(extra: Map[String, Any]): String = Json.write(extra ++ Map(
    "run_id" -> runId,
    "trace" -> trace,
    "spans" -> spans.toSeq.map(s => Map(
      "id" -> s.id, "name" -> s.name, "kind" -> s.kind, "parent" -> s.parent,
      "start" -> s.start, "end" -> s.end, "ok" -> s.ok, "attrs" -> s.attrs.toMap)),
    "jobs" -> listener.jobs.values.asScala.toSeq.sortBy(_.id).map(_.toMap),
    "stages" -> listener.stages.values.asScala.toSeq.sortBy(_.id).map(_.toMap),
    "queries" -> streams.queries.values.asScala.toSeq.sortBy(_.start).map(_.toMap)))

  // --- Spark engine counters -------------------------------------------

  final class JobRec(val id: Int, val start: Double, val tag: String) {
    @volatile var end: Double = Double.NaN
    @volatile var ok: Boolean = false
    def toMap: Map[String, Any] = Map("id" -> id, "start" -> start, "end" -> end,
      "ok" -> ok, "tag" -> Option(tag).getOrElse(""))
  }

  final class StageRec(val id: Int, val attempt: Int, val job: Int,
                       val tasks: Int, val runMs: Long, val cpuNs: Long,
                       val gcMs: Long, val shuffleWrite: Long, val spill: Long,
                       val failedTasks: Int, val ok: Boolean) {
    def toMap: Map[String, Any] = Map("id" -> id, "attempt" -> attempt,
      "job" -> job, "tasks" -> tasks, "run_ms" -> runMs, "cpu_ns" -> cpuNs,
      "gc_ms" -> gcMs, "shuffle_write_bytes" -> shuffleWrite,
      "spill_bytes" -> spill, "failed_tasks" -> failedTasks, "ok" -> ok)
  }

  private final class Listener extends SparkListener {
    val jobs = new ConcurrentHashMap[Int, JobRec]
    val stages = new ConcurrentHashMap[String, StageRec]
    private val stageJob = new ConcurrentHashMap[Int, Int]
    private val failedTasks = new ConcurrentHashMap[String, AtomicInteger]
    private val ended = new AtomicInteger(0)

    def quiet: Boolean = ended.get == jobs.size

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = Option(e.properties).map(_.getProperty(Recorder.TagKey)).orNull
      jobs.put(e.jobId, new JobRec(e.jobId, e.time / 1e3, tag))
      e.stageIds.foreach(stageJob.putIfAbsent(_, e.jobId))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach { j =>
        j.end = e.time / 1e3
        j.ok = e.jobResult == JobSucceeded
        ended.incrementAndGet()
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (!(e.reason: TaskEndReason).isInstanceOf[Success.type])
        failedTasks.computeIfAbsent(s"${e.stageId}.${e.stageAttemptId}",
          _ => new AtomicInteger).incrementAndGet()

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val key = s"${si.stageId}.${si.attemptNumber()}"
      val tm = Option(si.taskMetrics)
      if (stageJob.containsKey(si.stageId))
        stages.put(key, new StageRec(si.stageId, si.attemptNumber(),
          stageJob.get(si.stageId), si.numTasks,
          tm.fold(0L)(_.executorRunTime), tm.fold(0L)(_.executorCpuTime),
          tm.fold(0L)(_.jvmGCTime), tm.fold(0L)(_.shuffleWriteMetrics.bytesWritten),
          tm.fold(0L)(_.diskBytesSpilled),
          Option(failedTasks.get(key)).fold(0)(_.get), si.failureReason.isEmpty))
    }
  }

  // --- structured-streaming progress -----------------------------------

  final class QueryRec(val runId: String, val start: Double) {
    val batches = new AtomicInteger(0)
    def toMap: Map[String, Any] = Map("run_id" -> runId, "start" -> start,
      "batches" -> batches.get)
  }

  private final class Streams extends StreamingQueryListener {
    val queries = new ConcurrentHashMap[String, QueryRec]
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      queries.put(e.runId.toString, new QueryRec(e.runId.toString, now()))
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      Option(queries.get(e.progress.runId.toString)).foreach { q =>
        if (e.progress.numInputRows > 0) q.batches.incrementAndGet()
      }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }
}

object Recorder {
  /** Local property carrying the id of the span that submitted a job. */
  val TagKey = "perfbench.span"

  final case class Span(id: Int, name: String, kind: String, parent: Int,
                        start: Double, var end: Double, var ok: Boolean,
                        attrs: mutable.LinkedHashMap[String, Any])
}

/** Minimal JSON writer for the recorder's maps, sequences and scalars. */
object Json {
  def write(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case (a, b) => write(Seq(a, b))
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
