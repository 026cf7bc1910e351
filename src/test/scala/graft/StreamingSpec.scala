package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.{EventStreams, Landings}

/** Streaming = batch equivalence: each streaming plan, run to completion on
  * the static events table via AvailableNow, must agree with the same
  * transform run as a batch query.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  // File stream sources require a directory: stage the single parquet file.
  private lazy val eventsDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$Sf0001/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toString
  }
  // Native-schema read (NOT EventStreams.eventSchema): if the file's
  // physical ts encoding ever drifts from the stream's declared schema,
  // the equivalence tests must fail loudly instead of comparing two
  // identically-misdecoded sides (the round-9 silent-pass failure mode).
  private lazy val batchEvents = {
    val df = spark.read.parquet(eventsDir)
    assert(df.schema("ts").dataType == EventStreams.eventSchema("ts").dataType,
      s"events ts encoding ${df.schema("ts").dataType} no longer matches the " +
        s"stream schema ${EventStreams.eventSchema("ts").dataType}")
    df
  }

  private def runToMemory(df: org.apache.spark.sql.DataFrame, name: String,
                          mode: String): Unit = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
  }

  test("hourly rollup: streaming result equals batch result") {
    val stream = EventStreams.readEventStream(spark, eventsDir)
    runToMemory(EventStreams.hourlyRollup(stream), "roll", "complete")
    val streamed = spark.table("roll")
    val batch = EventStreams.hourlyRollup(batchEvents)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("session windows: streaming result equals batch result") {
    val stream = EventStreams.readEventStream(spark, eventsDir)
    runToMemory(EventStreams.sessionize(stream), "sess", "complete")
    val streamed = spark.table("sess")
    val batch = EventStreams.sessionize(batchEvents)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("drift monitor: streaming PSI equals batch PSI against the same reference") {
    // Reference trained offline on the full corpus; the monitor compares
    // each live window against it. Streaming and batch must agree on
    // every (window, type) PSI — binning, smoothing, and window edges
    // all come from the one shared definition.
    val ref = EventStreams.driftReference(batchEvents)
    val stream = EventStreams.readEventStream(spark, eventsDir)
    runToMemory(EventStreams.driftMonitor(stream, ref), "drift", "complete")
    val streamed = spark.table("drift")
    val batch = EventStreams.driftMonitor(batchEvents, ref)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    // PSI is a sum of (p−q)·ln(p/q) terms, each ≥ 0 — a negative value
    // can only come from a broken fold (no abs() here: abs >= 0 would be
    // a tautology that passes on garbage).
    assert(streamed.agg(min(col("psi"))).head().getDouble(0) >= 0.0)
  }

  test("drift monitor alarms on an event_type the reference never saw") {
    // A type absent from the reference is maximal drift — the stream-
    // static join must be LEFT so those windows surface (inner join
    // returned zero rows, silencing the alarm precisely when it matters).
    val ref = EventStreams.driftReference(
      batchEvents.where(col("event_type") =!= "error"))
    val unseen = EventStreams.driftMonitor(batchEvents, ref)
      .where(col("event_type") === "error")
    assert(unseen.count() > 0)
    // The alarm bit for an unseen type is ref_n == 0, not PSI: over
    // observed-bucket support a single-bucket live histogram reads
    // psi = 0 even against zero reference mass.
    assert(unseen.where(col("ref_n") =!= 0).count() == 0)
    assert(unseen.agg(min(col("psi"))).head().getDouble(0) >= 0.0)
  }

  test("drift monitor bins null values nowhere: n equals histogram mass, PSI stays sane") {
    // Spark's least/greatest SKIP nulls, so an unguarded clamp would put
    // a null value in bucket 9 while count(value) excluded it — smoothed p
    // would exceed 1 and PSI would explode. The guarded driftBucket must
    // instead drop nulls from mass and buckets symmetrically: a window of
    // 1 valued + many null events reads exactly like the 1-event window.
    import spark.implicits._
    val t0 = 1767225600L * 1000000L // 2026-01-01T00:00Z µs
    def ev(rows: Seq[(Long, Option[Double])]) = rows.zipWithIndex.map {
      case ((tus, v), i) => (i.toLong, tus, 7L, "click", v, "{}")
    }.toDF("event_id", "tus", "user_id", "event_type", "value", "props")
      .select(col("event_id"), timestamp_micros(col("tus"))
        .cast("timestamp_ntz").as("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"))
    val withNulls = ev(Seq((t0, Some(75.0))) ++
      (1 to 50).map(i => (t0 + i * 1000000L, Option.empty[Double])))
    val clean = ev(Seq((t0, Some(75.0))))
    val ref = EventStreams.driftReference(
      ev(Seq((t0, Some(75.0)), (t0 + 1000000L, Some(80.0)))))
    val a = EventStreams.driftMonitor(withNulls, ref)
      .select("n_events", "ref_n", "psi").collect().toSeq
    val b = EventStreams.driftMonitor(clean, ref)
      .select("n_events", "ref_n", "psi").collect().toSeq
    assert(a == b, s"null-valued rows leaked into the histogram: $a vs $b")
    assert(a.head.getLong(0) == 1L) // n = histogram mass, not row count
    assert(a.head.getLong(1) == 2L) // reference mass likewise excludes nothing here
  }

  test("flatMapGroupsWithState sessionization matches batch gap sessions") {
    import spark.implicits._
    val stream = EventStreams.readEventStream(spark, eventsDir)
    runToMemory(EventStreams.sessionizeCustom(spark, stream).toDF(), "customsess", "append")
    val streamed = spark.table("customsess")
      .select("user_id", "start_us", "end_us", "n_events").as[(Long, Long, Long, Long)]
      .collect().toSet

    // batch gap sessions via the window formulation; the streaming variant
    // can't close each user's final session (NoTimeout), so drop those.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("tus"))
    val batch = batchEvents
      .withColumn("tus", Tables.eventTimeUs(batchEvents))
      .withColumn("new_sess", when(lag(col("tus"), 1).over(w).isNull ||
        col("tus") - lag(col("tus"), 1).over(w) > 1800L * 1000000L, 1L).otherwise(0L))
      .withColumn("sidx", sum(col("new_sess")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy("user_id", "sidx")
      .agg(min("tus").as("start_us"), max("tus").as("end_us"),
        count(lit(1)).as("n_events"))
    val lastIdx = batch.groupBy("user_id").agg(max("sidx").as("sidx"))
    val closedBatch = batch.join(lastIdx, Seq("user_id", "sidx"), "left_anti")
      .select("user_id", "start_us", "end_us", "n_events").as[(Long, Long, Long, Long)]
      .collect().toSet

    assert(streamed.nonEmpty)
    assert(streamed == closedBatch)
  }

  test("stream-stream interval join equals the batch interval join") {
    val clicks = EventStreams.readEventStream(spark, eventsDir)
    val purchases = EventStreams.readEventStream(spark, eventsDir)
    runToMemory(EventStreams.clickAttribution(clicks, purchases), "attr", "append")
    val streamed = spark.table("attr")
    val batch = EventStreams.clickAttribution(batchEvents, batchEvents)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("interval-join state survives a restart: later purchases join earlier clicks") {
    // Two micro-batches separated by a full stop/start of the query: the
    // clicks land in run 1, the purchases that must join them land in
    // run 2 — the only way those rows can pair is the stream-stream join
    // state recovering from the checkpoint.
    val src = java.nio.file.Files.createTempDirectory("graft_attr_src_").toString
    val sink = java.nio.file.Files.createTempDirectory("graft_attr_sink_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_attr_ckpt_").toString
    val t0 = 1767225600L * 1000000L // 2026-01-01T00:00Z as µs
    def min(m: Long) = m * 60L * 1000000L
    def writeBatch(rows: Seq[(Long, Long, Long, String, Double, String)]): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        // canonical encoding: naive TIMESTAMP(µs); face-value-exact under
        // the session's pinned UTC timezone
        .withColumn("ts", timestamp_micros(col("ts")).cast("timestamp_ntz"))
        .coalesce(1).write.mode("append").parquet(src)
    def runOnce(): Unit = {
      val q = EventStreams.clickAttribution(
          EventStreams.readEventStream(spark, src),
          EventStreams.readEventStream(spark, src))
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000))
    }

    // run 1: clicks for users 1..4, one same-run purchase for user 1
    writeBatch(Seq(
      (101L, t0, 1L, "click", 1.0, ""), (102L, t0, 2L, "click", 1.0, ""),
      (103L, t0, 3L, "click", 1.0, ""), (104L, t0, 4L, "click", 1.0, ""),
      (201L, t0 + min(10), 1L, "purchase", 5.0, "")))
    runOnce()
    val afterRun1 = spark.read.parquet(sink)
    assert(afterRun1.count() == 1)
    assert(afterRun1.select("purchase_id", "click_id").as[(Long, Long)]
      .head() == ((201L, 101L)))

    // run 2 (fresh query from the checkpoint): purchases for users 2 and 3
    // within the hour, one for user 5 with no click ever
    writeBatch(Seq(
      (202L, t0 + min(30), 2L, "purchase", 5.0, ""),
      (203L, t0 + min(45), 3L, "purchase", 5.0, ""),
      (205L, t0 + min(20), 5L, "purchase", 5.0, "")))
    runOnce()
    val streamed = spark.read.parquet(sink)
    // purchases 202/203 can only pair with run-1 clicks via recovered state
    assert(streamed.count() == 3)
    assert(streamed.where(col("purchase_id").isin(202L, 203L)).count() == 2)
    // and the final sink equals the batch interval join over all events
    val allEvents = spark.read.schema(EventStreams.eventSchema).parquet(src)
    val batch = EventStreams.clickAttribution(allEvents, allEvents)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("incremental ingest is exactly-once across restarts and new files") {
    val src = java.nio.file.Files.createTempDirectory("graft_ingest_src_")
    val sink = java.nio.file.Files.createTempDirectory("graft_ingest_sink_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ingest_ckpt_").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$Sf0001/events.parquet"),
      src.resolve("batch1.parquet"))
    val perFile = spark.read.schema(EventStreams.eventSchema)
      .parquet(s"$src/batch1.parquet").count()

    EventStreams.incrementalIngest(spark, src.toString, sink, ckpt)
    assert(spark.read.parquet(sink).count() == perFile)

    // restart with no new files: the checkpoint must prevent reprocessing
    EventStreams.incrementalIngest(spark, src.toString, sink, ckpt)
    assert(spark.read.parquet(sink).count() == perFile)

    // a newly landed file is processed exactly once
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$Sf0001/events.parquet"),
      src.resolve("batch2.parquet"))
    EventStreams.incrementalIngest(spark, src.toString, sink, ckpt)
    assert(spark.read.parquet(sink).count() == 2 * perFile)
  }

  test("streaming rollup maintenance equals the single-pass aggState and survives restart") {
    import graft.ops.Relational
    val src = java.nio.file.Files.createTempDirectory("graft_roll_src_").toString
    val state = java.nio.file.Files.createTempDirectory("graft_roll_state_").toString + "/s"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_roll_ckpt_").toString
    def cents = round(col("value") * 100, 0).cast("long").as("cents")
    def expect(df: org.apache.spark.sql.DataFrame) = Relational.aggState(
      df.select(col("event_type"), cents), Seq("event_type"), Seq("cents"))
    def same(a: org.apache.spark.sql.DataFrame,
             b: org.apache.spark.sql.DataFrame): Boolean =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

    // first half lands; the maintained state must equal its single pass
    val ev = batchEvents
    ev.where(col("event_id") % 2 === 0).coalesce(1)
      .write.mode("append").parquet(src)
    EventStreams.rollupIngest(spark, src, state, ckpt)
    assert(same(EventStreams.readRollup(spark, state),
      expect(ev.where(col("event_id") % 2 === 0))))

    // restart with no new files: nothing reprocessed, state unchanged
    EventStreams.rollupIngest(spark, src, state, ckpt)
    assert(same(EventStreams.readRollup(spark, state),
      expect(ev.where(col("event_id") % 2 === 0))))

    // second half lands after a full stop/start: the keys-sized merge
    // against the recovered state must equal one pass over everything
    ev.where(col("event_id") % 2 === 1).coalesce(1)
      .write.mode("append").parquet(src)
    EventStreams.rollupIngest(spark, src, state, ckpt)
    assert(same(EventStreams.readRollup(spark, state), expect(ev)))
  }

  test("scd2 ingest maintains the batch gate's history for any batch cut, and rejects out-of-order arrivals") {
    val expected = SparkEntry.queries("scd2_user_history")(spark, Sf0001)
    def same(a: org.apache.spark.sql.DataFrame,
             b: org.apache.spark.sql.DataFrame): Boolean =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

    val ev = batchEvents
    val tus = Tables.eventTimeUs(ev)
    val Array(lo, hi) = ev.agg(min(tus), max(tus)).head()
      .toSeq.map(_.asInstanceOf[Long]).toArray
    // Two DIFFERENT cut points into the same time-ordered stream: the
    // maintained history must be invariant to where the stream is cut
    // (and equal to the single-pass batch gate) — the property that makes
    // "maintained at the ingest seam" a correctness claim, not a hope.
    for (cut <- Seq(lo + (hi - lo) / 2, lo + (hi - lo) / 4)) {
      val src = java.nio.file.Files.createTempDirectory("graft_scd2_src_").toString
      val state = java.nio.file.Files.createTempDirectory("graft_scd2_state_").toString + "/s"
      val ckpt = java.nio.file.Files.createTempDirectory("graft_scd2_ckpt_").toString
      ev.where(tus <= cut).coalesce(1).write.mode("append").parquet(src)
      EventStreams.scd2Ingest(spark, src, state, ckpt)
      ev.where(tus > cut).coalesce(1).write.mode("append").parquet(src)
      EventStreams.scd2Ingest(spark, src, state, ckpt)
      assert(same(EventStreams.readScd2(spark, state), expected),
        s"maintained history diverged from the batch gate at cut=$cut")
      // restart with nothing new: state unchanged
      EventStreams.scd2Ingest(spark, src, state, ckpt)
      assert(same(EventStreams.readScd2(spark, state), expected))
    }

    // Out-of-order landing (newer half first) must fail the guard loudly,
    // not write a silently wrong history.
    val src2 = java.nio.file.Files.createTempDirectory("graft_scd2_src2_").toString
    val state2 = java.nio.file.Files.createTempDirectory("graft_scd2_state2_").toString + "/s"
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft_scd2_ckpt2_").toString
    val mid = lo + (hi - lo) / 2
    ev.where(tus > mid).coalesce(1).write.mode("append").parquet(src2)
    EventStreams.scd2Ingest(spark, src2, state2, ckpt2)
    ev.where(tus <= mid).coalesce(1).write.mode("append").parquet(src2)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      EventStreams.scd2Ingest(spark, src2, state2, ckpt2)
    }
    assert(e.getMessage.contains("out-of-order") ||
      Option(e.getCause).exists(_.getMessage.contains("out-of-order")))
  }

  // (event_id, epoch sec, user_id, k) → a stream-schema events frame;
  // tier in the scd2 gates is floor(k / 25).
  private def mkEvents(rows: Seq[(Long, Long, Long, Long)]) =
    rows.toDF("event_id", "sec", "user_id", "k")
      .select(col("event_id"),
        timestamp_seconds(col("sec")).cast("timestamp_ntz").as("ts"),
        col("user_id"), lit("click").as("event_type"), lit(1.0).as("value"),
        concat(lit("{\"k\":"), col("k"), lit("}")).as("props"))

  // The batch gate's history over the same rows: what the maintained state
  // must equal however the rows were landed.
  private def scd2Twin(rows: Seq[(Long, Long, Long, Long)]) = {
    val ev = mkEvents(rows)
    graft.ops.Relational.scd2Compress(ev.select(col("user_id"), col("event_id"),
        Tables.eventTimeUs(ev).as("tus"),
        graft.ops.Relational.floorDivExact(
          expr("cast(get_json_object(props, '$.k') as bigint)"), 25L).as("tier")))
      .drop("anchor_eid")
  }

  test("scd2 ingest detects a checkpoint reset even with a single committed generation") {
    val src = java.nio.file.Files.createTempDirectory("graft_scd2cr_src_").toString
    val state = java.nio.file.Files.createTempDirectory("graft_scd2cr_state_").toString + "/s"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_scd2cr_ckpt_").toString
    mkEvents(Seq((1L, 1000L, 1L, 10L))).coalesce(1).write.mode("append").parquet(src)
    EventStreams.scd2Ingest(spark, src, state, ckpt)
    // The checkpoint is lost, new events land, and a fresh checkpoint
    // re-delivers EVERYTHING as batch 0. txn(0) == batchId(0) looks exactly
    // like crash-recovery replay, which used to be swallowed as a no-op —
    // silently dropping the new event forever (the fresh checkpoint commits
    // past it). The query id recorded in the manifest proves this batch 0
    // is not the committed one; the guard must fail loudly.
    mkEvents(Seq((2L, 2000L, 1L, 30L))).coalesce(1).write.mode("append").parquet(src)
    val ckptReset = java.nio.file.Files.createTempDirectory("graft_scd2cr_ckpt2_").toString
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      EventStreams.scd2Ingest(spark, src, state, ckptReset)
    }
    assert(e.getMessage.contains("different checkpoint") ||
      Option(e.getCause).exists(_.getMessage.contains("different checkpoint")),
      e.getMessage)
    // State is untouched by the refused batch.
    assert(EventStreams.readScd2(spark, state).count() == 1)
  }

  test("scd2 ingest absorbs an exact re-delivery of the last-seen event; older duplicates stay fatal") {
    val src = java.nio.file.Files.createTempDirectory("graft_scd2r_src_").toString
    val state = java.nio.file.Files.createTempDirectory("graft_scd2r_state_").toString + "/s"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_scd2r_ckpt_").toString
    mkEvents(Seq((1L, 1000L, 1L, 10L), (2L, 2000L, 1L, 30L)))
      .coalesce(1).write.mode("append").parquet(src)
    EventStreams.scd2Ingest(spark, src, state, ckpt)
    // At-least-once upstream re-delivers the LAST event verbatim alongside
    // a genuinely new one: the equal-to-watermark row must be absorbed (it
    // would merge as a non-change anyway), not wedge the pipeline.
    mkEvents(Seq((2L, 2000L, 1L, 30L), (3L, 3000L, 1L, 60L)))
      .coalesce(1).write.mode("append").parquet(src)
    EventStreams.scd2Ingest(spark, src, state, ckpt)
    val hist = EventStreams.readScd2(spark, state)
      .orderBy("valid_from_us").collect()
    assert(hist.map(_.getAs[Long]("tier")).toSeq == Seq(0L, 1L, 2L),
      hist.mkString("; "))
    assert(hist.last.getAs[Int]("is_current") == 1)
    // A duplicate of an OLDER event is indistinguishable from genuine
    // disorder — still fatal.
    mkEvents(Seq((1L, 1000L, 1L, 10L)))
      .coalesce(1).write.mode("append").parquet(src)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      EventStreams.scd2Ingest(spark, src, state, ckpt)
    }
    assert(e.getMessage.contains("out-of-order") ||
      Option(e.getCause).exists(_.getMessage.contains("out-of-order")))
  }

  test("scd2 ingest rewrites only the buckets a landing touches") {
    val src = java.nio.file.Files.createTempDirectory("graft_scd2b_src_").toString
    val state = java.nio.file.Files.createTempDirectory("graft_scd2b_state_").toString + "/s"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_scd2b_ckpt_").toString
    def bucketDirs(id: Long) =
      Option(new java.io.File(s"$state/batch=$id/segments").listFiles())
        .map(_.count(_.getName.startsWith("bucket="))).getOrElse(0)
    // 100 users hash across all 8 buckets
    val all = (1 to 100).map(u => (u.toLong, 1000L + u, u.toLong, u.toLong * 25))
    mkEvents(all).coalesce(1).write.mode("append").parquet(src)
    EventStreams.scd2Ingest(spark, src, state, ckpt, buckets = 8)
    assert(bucketDirs(0) == 8)
    // a one-user landing must rewrite exactly ONE bucket — the
    // history-proportional full-snapshot rewrite is gone
    val tiny = Seq((1000L, 5000L, 1L, 75L))
    mkEvents(tiny).coalesce(1).write.mode("append").parquet(src)
    EventStreams.scd2Ingest(spark, src, state, ckpt, buckets = 8)
    assert(bucketDirs(1) == 1, s"expected 1 touched bucket, got ${bucketDirs(1)}")
    // and the maintained table still equals a single-pass compression of
    // everything — across a third landing so pruning (whole-dir AND
    // bucket-granular) has run twice over still-referenced generations
    val tiny2 = Seq((1001L, 6000L, 2L, 99L))
    mkEvents(tiny2).coalesce(1).write.mode("append").parquet(src)
    EventStreams.scd2Ingest(spark, src, state, ckpt, buckets = 8)
    val expected = scd2Twin(all ++ tiny ++ tiny2)
    val got = EventStreams.readScd2(spark, state)
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
    // bucket-count mismatch on an existing state dir must fail loudly
    mkEvents(Seq((1002L, 7000L, 3L, 10L))).coalesce(1)
      .write.mode("append").parquet(src)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      EventStreams.scd2Ingest(spark, src, state, ckpt, buckets = 16)
    }
    assert(e.getMessage.contains("bucket") ||
      Option(e.getCause).exists(_.getMessage.contains("bucket")))
  }

  test("state readers fall forward past a concurrent prune, and fail naming the contract when they can't") {
    // Replay the race pruneSuperseded documents: a reader resolves a
    // generation, a concurrent ingest commits + prunes it. The seam
    // (startAt) pins the stale resolution deterministically.
    val src = java.nio.file.Files.createTempDirectory("graft_scd2p_src_").toString
    val state = java.nio.file.Files.createTempDirectory("graft_scd2p_state_").toString + "/s"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_scd2p_ckpt_").toString
    // both landings touch ALL 4 buckets, so manifest 1 references only
    // batch=1 dirs and batch=0 survives solely on the one-generation grace
    mkEvents((1 to 40).map(u => (u.toLong, 1000L + u, u.toLong, 10L)))
      .coalesce(1).write.mode("append").parquet(src)
    EventStreams.scd2Ingest(spark, src, state, ckpt, buckets = 4)
    mkEvents((1 to 40).map(u => (100L + u, 5000L + u, u.toLong, 60L)))
      .coalesce(1).write.mode("append").parquet(src)
    EventStreams.scd2Ingest(spark, src, state, ckpt, buckets = 4)
    val expected = EventStreams.readScd2(spark, state).collect().toSet
    // the prune a THIRD commit would do: generation 0 vanishes entirely
    def rm(p: String): Unit = {
      val f = new java.io.File(p)
      if (f.isDirectory) f.listFiles().foreach(c => rm(c.getPath))
      f.delete()
    }
    rm(s"$state/batch=0")
    // a reader that had resolved generation 0 falls forward to generation 1
    val got = EventStreams.readScd2From(spark, state, Some(0L)).collect().toSet
    assert(got == expected, "fall-forward read diverged from the live state")
    // newest generation broken with nothing newer: pinned contract error
    rm(s"$state/batch=1/segments/bucket=0")
    val e = intercept[IllegalStateException] {
      EventStreams.readScd2(spark, state)
    }
    assert(e.getMessage.contains("single-writer"), e.getMessage)

    // same two branches for the rollup reader
    val rsrc = java.nio.file.Files.createTempDirectory("graft_rollp_src_").toString
    val rstate = java.nio.file.Files.createTempDirectory("graft_rollp_state_").toString + "/s"
    val rckpt = java.nio.file.Files.createTempDirectory("graft_rollp_ckpt_").toString
    val ev = batchEvents
    ev.where(col("event_id") % 2 === 0).coalesce(1).write.mode("append").parquet(rsrc)
    EventStreams.rollupIngest(spark, rsrc, rstate, rckpt)
    ev.where(col("event_id") % 2 === 1).coalesce(1).write.mode("append").parquet(rsrc)
    EventStreams.rollupIngest(spark, rsrc, rstate, rckpt)
    val rexpected = EventStreams.readRollup(spark, rstate).collect().toSet
    rm(s"$rstate/batch=0")
    assert(EventStreams.readRollupFrom(spark, rstate, Some(0L))
      .collect().toSet == rexpected)
    // reader resolved generation 1, it vanishes, nothing newer committed:
    // pinned contract error (a FRESH read of the emptied dir is the
    // ordinary "no state" error — the race error is for stale resolvers)
    rm(s"$rstate/batch=1")
    val re = intercept[IllegalStateException] {
      EventStreams.readRollupFrom(spark, rstate, Some(1L))
    }
    assert(re.getMessage.contains("single-writer"), re.getMessage)
  }

  test("rebucketScd2 migrates the bucket count; ingest continues from its checkpoint") {
    val src = java.nio.file.Files.createTempDirectory("graft_scd2m_src_").toString
    val state = java.nio.file.Files.createTempDirectory("graft_scd2m_state_").toString + "/s"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_scd2m_ckpt_").toString
    val all = (1 to 60).map(u => (u.toLong, 1000L + u, u.toLong, u.toLong * 25))
    mkEvents(all).coalesce(1).write.mode("append").parquet(src)
    EventStreams.scd2Ingest(spark, src, state, ckpt, buckets = 16)
    val before = EventStreams.readScd2(spark, state).collect().toSet

    EventStreams.rebucketScd2(spark, state, 64)
    // the maintained table is invariant under the migration
    assert(EventStreams.readScd2(spark, state).collect().toSet == before,
      "rebucket changed the maintained history")
    // the streaming watermark and the owning query id carry forward
    val (m0, m1) = (EventStreams.readManifest(spark, state, 0L),
      EventStreams.readManifest(spark, state, 1L))
    assert(m1.txn == m0.txn && m1.appId == m0.appId && m1.appId.nonEmpty)
    // idempotent: same bucket count again is a no-op commit
    EventStreams.rebucketScd2(spark, state, 64)
    assert(EventStreams.readScd2(spark, state).collect().toSet == before)

    // ingest continues from the SAME checkpoint at the new bucket count —
    // the rebucket generation did not desynchronize the split-brain guard
    val tiny = Seq((1000L, 5000L, 1L, 75L))
    mkEvents(tiny).coalesce(1).write.mode("append").parquet(src)
    EventStreams.scd2Ingest(spark, src, state, ckpt, buckets = 64)
    val expected = scd2Twin(all ++ tiny)
    val got = EventStreams.readScd2(spark, state)
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)

    // the pre-migration bucket count now fails loudly, naming the path out
    mkEvents(Seq((1001L, 6000L, 2L, 99L))).coalesce(1)
      .write.mode("append").parquet(src)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      EventStreams.scd2Ingest(spark, src, state, ckpt, buckets = 16)
    }
    assert(e.getMessage.contains("rebucketScd2") ||
      Option(e.getCause).exists(_.getMessage.contains("rebucketScd2")))
  }

  test("rebucket + large-batch state writes are bucket-aligned: O(1) files per bucket") {
    // The failure shape this pins: partitionBy("bucket") with no
    // repartition hands every upstream task rows for ~every hash bucket,
    // fanning out tasks x buckets small files (or paying the committer's
    // per-task sort) at exactly the 100-TB state size rebucket exists for.
    // The write-task row budget is lowered so a spec-sized history drives
    // the alignment path the same way 250k-row tasks would at scale.
    val src = java.nio.file.Files.createTempDirectory("graft_scd2fa_src_").toString
    val state = java.nio.file.Files.createTempDirectory("graft_scd2fa_state_").toString + "/s"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_scd2fa_ckpt_").toString
    spark.conf.set("spark.graft.scd2.rowsPerWriteTask", "500")
    try {
      val all = (1 to 4000).map(u =>
        (u.toLong, 1000L + u, u.toLong, (u % 100).toLong * 25))
      // many source tasks, so an unaligned write would fan out per task
      mkEvents(all).repartition(16).write.mode("append").parquet(src)
      EventStreams.scd2Ingest(spark, src, state, ckpt, buckets = 4)
      val before = EventStreams.readScd2(spark, state).collect().toSet

      def filesPerBucket(dir: String): Map[String, Int] = {
        val d = new java.io.File(dir)
        assert(d.isDirectory, s"missing $dir")
        d.listFiles().filter(f => f.isDirectory && f.getName.startsWith("bucket="))
          .map(b => b.getName ->
            b.listFiles().count(_.getName.endsWith(".parquet"))).toMap
      }
      // The ingest write itself (4000 rows >> 500/task = 8 write tasks)
      // must keep each of the 4 bucket dirs at O(1) files, not 8 each.
      val gen0 = filesPerBucket(s"$state/batch=0/segments")
      assert(gen0.nonEmpty && gen0.values.max <= 3,
        s"ingest write fanned out: $gen0")

      EventStreams.rebucketScd2(spark, state, 32)
      assert(EventStreams.readScd2(spark, state).collect().toSet == before,
        "rebucket changed the maintained history")
      // 8 write tasks over 32 buckets (salt = 1): each (bucket, salt)
      // group hashes wholly into one task, so 1 file per bucket — an
      // unaligned write would have up to 8 per bucket.
      for (kind <- Seq("segments", "seen")) {
        val fp = filesPerBucket(s"$state/batch=1/$kind")
        assert(fp.nonEmpty && fp.values.max <= 2,
          s"rebucket $kind write fanned out: $fp")
      }
    } finally spark.conf.unset("spark.graft.scd2.rowsPerWriteTask")
  }

  test("bucketAligned salt is decorrelated from the bucket hash: parallelism ~= parts") {
    // The collapse shape this pins: salt = pmod(hash(user_id), salt) is a
    // function of the SAME hash as bucket = pmod(hash(user_id), buckets),
    // so distinct (bucket, salt) groups = lcm(buckets, salt). With
    // buckets = 8, parts = 64 => salt = 8, gcd = 8: the correlated salt
    // yields only lcm(8, 8) = 8 groups — every bucket's whole history in
    // ONE write task, parallelism <= buckets instead of ~parts. The
    // decorrelated salt (independent hash seed) yields ~64 groups.
    spark.conf.set("spark.graft.scd2.rowsPerWriteTask", "100")
    try {
      val buckets = 8
      val df = spark.range(6400).select(
        col("id").as("user_id"),
        pmod(hash(col("id")), lit(buckets)).as("bucket"))
      val aligned = EventStreams.bucketAligned(df, estRows = 6400L, buckets)
      val nonEmpty = aligned.select(spark_partition_id().as("p"))
        .distinct().count()
      // 64 independent (bucket, salt) groups hash into 64 partitions:
      // balls-into-bins expectation ~40 non-empty; the correlated-salt bug
      // caps it at 8. Assert well above the bug and near the expectation.
      assert(nonEmpty >= 24,
        s"salt correlated with bucket hash: only $nonEmpty non-empty " +
          "partitions for parts=64, buckets=8 (bug caps at 8)")
    } finally spark.conf.unset("spark.graft.scd2.rowsPerWriteTask")
  }

  test("scd2 manifest row stamps: sized from the manifest, carried across landings") {
    val src = java.nio.file.Files.createTempDirectory("graft_scd2rs_src_").toString
    val state = java.nio.file.Files.createTempDirectory("graft_scd2rs_state_").toString + "/s"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_scd2rs_ckpt_").toString
    mkEvents((1 to 40).map(u => (u.toLong, 1000L + u, u.toLong, (u % 4).toLong * 25)))
      .coalesce(1).write.mode("append").parquet(src)
    EventStreams.scd2Ingest(spark, src, state, ckpt, buckets = 4)
    def manifest(id: Long) = EventStreams.readManifest(spark, state, id)
    def actualRows(id: Long, kind: String): Map[Int, Long] =
      spark.read.parquet(s"$state/batch=$id/$kind")
        .groupBy("bucket").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // gen 0: stamps cover every entry and equal the real per-bucket counts
    val m0 = manifest(0L)
    assert(m0.segRows == actualRows(0L, "segments"), "segRows stamp wrong")
    assert(m0.seenRows == actualRows(0L, "seen"), "seenRows stamp wrong")
    assert(m0.entries.keySet.subsetOf(m0.segRows.keySet))
    // a one-user landing rewrites one bucket and carries the other stamps:
    // every stamp equals the real count of the bucket in its holder dir
    mkEvents(Seq((100L, 5000L, 1L, 75L))).coalesce(1)
      .write.mode("append").parquet(src)
    EventStreams.scd2Ingest(spark, src, state, ckpt, buckets = 4)
    val m1 = manifest(1L)
    assert(m1.entries.keySet == m0.entries.keySet)
    assert(m1.entries.values.toSet == Set(0L, 1L),
      s"expected touched and carried buckets: ${m1.entries}")
    for ((kind, stamps) <- Seq("segments" -> m1.segRows, "seen" -> m1.seenRows)) {
      val expected = m1.entries.map { case (b, mid) =>
        b -> actualRows(mid, kind).getOrElse(b, 0L) }
      assert(stamps == expected, s"$kind stamps $stamps vs real $expected")
    }
    // rebucket consumes and re-produces stamps
    EventStreams.rebucketScd2(spark, state, 8)
    val m2 = manifest(2L)
    assert(m2.entries.keySet.forall(b =>
      m2.segRows.contains(b) && m2.seenRows.contains(b)))
    assert(m2.segRows.values.sum == m1.segRows.values.sum,
      "rebucket changed total segment rows")
    assert(EventStreams.readScd2(spark, state).count() == m2.segRows.values.sum)
  }

  test("scd2 manifest without appId or segRows fails naming it; state untouched") {
    for (field <- Seq(""""appId":"[^"]*",""", """"segRows":\{[^}]*\},""")) {
      val src = java.nio.file.Files.createTempDirectory("graft_scd2sm_src_").toString
      val state = java.nio.file.Files.createTempDirectory("graft_scd2sm_state_").toString + "/s"
      val ckpt = java.nio.file.Files.createTempDirectory("graft_scd2sm_ckpt_").toString
      mkEvents(Seq((1L, 1000L, 1L, 10L), (2L, 2000L, 2L, 30L)))
        .coalesce(1).write.mode("append").parquet(src)
      EventStreams.scd2Ingest(spark, src, state, ckpt, buckets = 4)
      val path = s"$state/batch=0/manifest.json"
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val in = fs.open(p)
      val json = try new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
      finally in.close()
      val stripped = json.replaceAll(field, "")
      assert(stripped != json, s"no $field to strip from $json")
      val out = fs.create(p, true)
      try out.write(stripped.getBytes("UTF-8")) finally out.close()
      val e = intercept[IllegalStateException] {
        EventStreams.readManifest(spark, state, 0L)
      }
      assert(e.getMessage.contains(path), e.getMessage)
      def listing: Map[String, (Long, Long)] = {
        val root = java.nio.file.Paths.get(state)
        val files = java.nio.file.Files.walk(root)
        import scala.jdk.CollectionConverters._
        try files.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(f => root.relativize(f).toString ->
            (f.toFile.length(), f.toFile.lastModified())).toMap
        finally files.close()
      }
      val before = listing
      mkEvents(Seq((3L, 3000L, 1L, 60L))).coalesce(1)
        .write.mode("append").parquet(src)
      val se = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        EventStreams.scd2Ingest(spark, src, state, ckpt, buckets = 4)
      }
      assert(se.getMessage.contains(path) ||
        Option(se.getCause).exists(_.getMessage.contains(path)), se.getMessage)
      assert(listing == before, "a refused landing changed the state dir")
    }
  }

  test("scd2 ingest commits past a crashed commit's temp manifest and segments") {
    val src = java.nio.file.Files.createTempDirectory("graft_scd2cc_src_").toString
    val state = java.nio.file.Files.createTempDirectory("graft_scd2cc_state_").toString + "/s"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_scd2cc_ckpt_").toString
    val first = Seq((1L, 1000L, 1L, 10L), (2L, 2000L, 2L, 30L))
    mkEvents(first).coalesce(1).write.mode("append").parquet(src)
    EventStreams.scd2Ingest(spark, src, state, ckpt, buckets = 4)
    // A commit of generation 1 that crashed before its rename: a truncated
    // temp manifest and wrong-tier segments for every bucket, no manifest.
    spark.read.parquet(s"$state/batch=0/segments").withColumn("tier", lit(99L))
      .write.partitionBy("bucket").parquet(s"$state/batch=1/segments")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$state/batch=1/manifest.json.tmp"),
      """{"buckets":4,"tx""".getBytes("UTF-8"))
    assert(EventStreams.manifestIds(spark, state) == Seq(0L))
    assert(EventStreams.readScd2(spark, state).count() == 2)
    val second = Seq((3L, 3000L, 1L, 60L))
    mkEvents(second).coalesce(1).write.mode("append").parquet(src)
    EventStreams.scd2Ingest(spark, src, state, ckpt, buckets = 4)
    assert(EventStreams.manifestIds(spark, state).sorted == Seq(0L, 1L))
    assert(!new java.io.File(s"$state/batch=1/manifest.json.tmp").exists())
    val expected = scd2Twin(first ++ second)
    val got = EventStreams.readScd2(spark, state)
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }

  test("streaming semantic ingest equals batch e11 and survives restart") {
    import graft.streaming.VecStreams
    val src = java.nio.file.Files.createTempDirectory("graft_sem_src_").toString
    val hist = java.nio.file.Files.createTempDirectory("graft_sem_hist_").toString + "/h"
    val flags = java.nio.file.Files.createTempDirectory("graft_sem_flags_").toString + "/f"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sem_ckpt_").toString

    // Same staging as the d8 twin below: history slice (vec_id % 13 != 0)
    // lands first, the fresh slice arrives after a full stop/start, so it
    // can only be screened against the recovered history index.
    val emb = spark.read.schema(VecStreams.embSchema)
      .parquet(s"$Sf0001/embeddings.parquet")
    val nHist = emb.where(pmod(col("vec_id"), lit(13L)) =!= 0).count()
    emb.where(pmod(col("vec_id"), lit(13L)) =!= 0)
      .coalesce(1).write.mode("append").parquet(src)
    VecStreams.semanticIngest(spark, src, hist, flags, ckpt)
    assert(Landings.readFlags(spark, flags)
      .where(col("is_semdup_of_history")).count() == 0)
    assert(spark.read.parquet(hist).count() == nHist)

    // restart with no new files: nothing reprocessed
    VecStreams.semanticIngest(spark, src, hist, flags, ckpt)
    assert(Landings.readFlags(spark, flags).count() == nHist)

    // fresh slice lands; the new run screens it against recovered history
    emb.where(pmod(col("vec_id"), lit(13L)) === 0)
      .coalesce(1).write.mode("append").parquet(src)
    VecStreams.semanticIngest(spark, src, hist, flags, ckpt)

    val streamed = Landings.readFlags(spark, flags)
      .where(pmod(col("vec_id"), lit(13L)) === 0)
      .select("vec_id", "is_semdup_of_history")
    val batch = SparkEntry.queries("e11_incremental_semantic")(spark, Sf0001)
    assert(streamed.count() > 0)
    assert(batch.where(col("is_semdup_of_history")).count() > 0) // non-trivial
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    assert(spark.read.parquet(hist).count() == emb.count())
  }

  test("streaming incremental near-dup dedup equals batch d8 and survives restart") {
    import graft.streaming.DocStreams
    val src = java.nio.file.Files.createTempDirectory("graft_ddup_src_").toString
    val hist = java.nio.file.Files.createTempDirectory("graft_ddup_hist_").toString + "/h"
    val flags = java.nio.file.Files.createTempDirectory("graft_ddup_flags_").toString + "/f"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ddup_ckpt_").toString

    // Stage the d8 slices as separately-landing files: the history slice
    // (doc_id % 13 != 0) arrives first, the fresh slice (% 13 == 0) lands
    // after a full stop/start of the query — so the fresh batch can only
    // be screened against signatures recovered from the history table.
    val docs = spark.read.schema(DocStreams.docSchema)
      .parquet(s"$Sf0001/documents.parquet")
    docs.where(pmod(col("doc_id"), lit(13L)) =!= 0)
      .coalesce(1).write.mode("append").parquet(src)
    DocStreams.incrementalDedup(spark, src, hist, flags, ckpt)

    // batch 0 screens against empty history: nothing can be flagged, and
    // every signature must have entered history
    val nHist = docs.where(pmod(col("doc_id"), lit(13L)) =!= 0).count()
    assert(Landings.readFlags(spark, flags)
      .where(col("is_dup_of_history")).count() == 0)
    assert(spark.read.parquet(hist).count() == nHist)

    // restart with no new files: nothing reprocessed, nothing re-flagged
    DocStreams.incrementalDedup(spark, src, hist, flags, ckpt)
    assert(Landings.readFlags(spark, flags).count() == nHist)
    assert(spark.read.parquet(hist).count() == nHist)

    // the fresh slice lands; a NEW query run (fresh from the checkpoint)
    // screens it against the recovered history
    docs.where(pmod(col("doc_id"), lit(13L)) === 0)
      .coalesce(1).write.mode("append").parquet(src)
    DocStreams.incrementalDedup(spark, src, hist, flags, ckpt)

    // the fresh batch's flags must equal the batch d8 gate bit-for-bit
    val streamed = Landings.readFlags(spark, flags)
      .where(pmod(col("doc_id"), lit(13L)) === 0)
      .select("doc_id", "is_dup_of_history")
    val batch = SparkEntry.queries("d8_incremental_dedup")(spark, Sf0001)
    assert(streamed.count() > 0)
    assert(batch.where(col("is_dup_of_history")).count() > 0) // non-trivial
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    // and the history now holds every screened signature exactly once
    assert(spark.read.parquet(hist).count() == docs.count())
    assert(spark.read.parquet(hist).select("doc_id").distinct().count() == docs.count())
  }

  test("stateless PII scrub runs unchanged on a stream and equals batch") {
    // The library's per-row enrichments are plain projections, so the SAME
    // function serves readStream without modification — the property that
    // lets one codebase back both the batch corpus build and the live
    // ingest path.
    val stream = EventStreams.readEventStream(spark, eventsDir)
    runToMemory(graft.ops.TextOps.piiScrub(stream, "event_id", "props"),
      "scrub", "append")
    val streamed = spark.table("scrub")
    val batch = graft.ops.TextOps.piiScrub(batchEvents, "event_id", "props")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming dedup keeps exactly the batch-distinct digest set") {
    val stream = EventStreams.readEventStream(spark, eventsDir)
    runToMemory(EventStreams.dedupStream(stream), "dedup", "append")
    val streamed = spark.table("dedup").select("digest")
    val batchDigests = batchEvents
      .select(sha2(concat_ws("|",
        coalesce(col("user_id").cast("string"), lit("\u0000")),
        coalesce(col("event_type"), lit("\u0000")),
        coalesce(col("props"), lit("\u0000"))), 256).as("digest"))
    // the corpus must actually contain duplicates for this to test anything
    assert(batchDigests.count() > batchDigests.distinct().count())
    assert(streamed.count() == streamed.distinct().count())
    assert(streamed.exceptAll(batchDigests.distinct()).count() == 0)
    assert(batchDigests.distinct().exceptAll(streamed).count() == 0)
  }

  test("mapGroupsWithState running totals equal batch per-user aggregates") {
    val stream = EventStreams.readEventStream(spark, eventsDir)
    runToMemory(
      EventStreams.runningUserTotals(spark, stream).toDF(), "totals", "update")
    // one batch -> final row per user; compare count and sum (rounded).
    val streamed = spark.table("totals")
      .groupBy("user_id")
      .agg(max("n_events").as("n_events"), round(max("total_value"), 2).as("total_value"))
    val batch = batchEvents.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"))
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming decontamination equals the batch x1 gate and survives restart") {
    import graft.streaming.DocStreams
    import graft.ops.TextOps
    val src = java.nio.file.Files.createTempDirectory("graft_dc_src_").toString
    val flags = java.nio.file.Files.createTempDirectory("graft_dc_flags_").toString + "/f"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_dc_ckpt_").toString
    val docs = spark.read.schema(DocStreams.docSchema)
      .parquet(s"$Sf0001/documents.parquet")
    // eval index trained offline: distinct gram hashes of the benchmark
    // slice (x1's doc_id % 97 == 0 convention); the stream sees only the
    // training slice, landing in two drops with a full stop/start between
    val evalGrams = TextOps.shingleRows(
      docs.where(pmod(col("doc_id"), lit(97L)) === 0), "doc_id", "text")
    val train = docs.where(pmod(col("doc_id"), lit(97L)) =!= 0)

    train.where(pmod(col("doc_id"), lit(2L)) === 0)
      .coalesce(1).write.mode("append").parquet(src)
    DocStreams.decontaminateIngest(spark, src, evalGrams, flags, ckpt)
    val afterFirst = spark.read.parquet(flags).count()
    assert(afterFirst > 0)

    // restart with no new files: nothing reprocessed, nothing duplicated
    DocStreams.decontaminateIngest(spark, src, evalGrams, flags, ckpt)
    assert(spark.read.parquet(flags).count() == afterFirst)

    train.where(pmod(col("doc_id"), lit(2L)) =!= 0)
      .coalesce(1).write.mode("append").parquet(src)
    DocStreams.decontaminateIngest(spark, src, evalGrams, flags, ckpt)

    // streamed flags over both drops == the batch x1 gate bit-for-bit
    // (same gram builder, same exact-join semantics, same columns)
    val streamed = spark.read.parquet(flags).drop("batch")
    val batch = SparkEntry.queries("x1_decontaminate")(spark, Sf0001)
    assert(batch.where(col("is_contaminated")).count() > 0) // non-trivial
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming quality+mixture ingest equals the batch screen and survives restart") {
    import graft.streaming.DocStreams
    import graft.ops.TextOps
    val src = java.nio.file.Files.createTempDirectory("graft_qm_src_").toString
    val acc = java.nio.file.Files.createTempDirectory("graft_qm_acc_").toString + "/a"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_qm_ckpt_").toString
    val docs = spark.read.schema(DocStreams.docSchema)
      .parquet(s"$Sf0001/documents.parquet")
    // thresholds trained offline on the full corpus — the refresh cadence
    // is the production knob; the ingest decision itself is per-row
    val th = TextOps.mixtureThresholds(TextOps.qualityScreen(docs))

    docs.where(pmod(col("doc_id"), lit(2L)) === 0)
      .coalesce(1).write.mode("append").parquet(src)
    DocStreams.qualityMixtureIngest(spark, src, th, acc, ckpt)
    val afterFirst = spark.read.parquet(acc).count()
    assert(afterFirst > 0)

    // restart with no new files: nothing reprocessed, nothing duplicated
    DocStreams.qualityMixtureIngest(spark, src, th, acc, ckpt)
    assert(spark.read.parquet(acc).count() == afterFirst)

    docs.where(pmod(col("doc_id"), lit(2L)) =!= 0)
      .coalesce(1).write.mode("append").parquet(src)
    DocStreams.qualityMixtureIngest(spark, src, th, acc, ckpt)

    // accepted set == the batch composition over the whole corpus
    val streamed = spark.read.parquet(acc)
      .select("doc_id", "lang", "n_tokens")
    val batch = TextOps.mixtureSelect(TextOps.qualityScreen(docs), th)
    assert(streamed.count() < docs.count(), "mixture must subsample")
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  // Crash residue: FileOutputCommitter creates `batch=<id>` holding only
  // `_temporary` before its job commits, so a crash mid-write leaves a
  // directory that is not a committed batch. Readers must skip it and the
  // re-executed batch must overwrite it.
  private def plantTemporary(dir: String, id: Long): Unit =
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/batch=$id/_temporary/0"))

  private def sameRows(a: org.apache.spark.sql.DataFrame,
                       b: org.apache.spark.sql.DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** Runs `ingest(src, hist, flags, ckpt)` over one landing twice, clean
    * and with a crashed batch 0 planted under history and flags, and
    * checks both leave the same flags and history.
    */
  private def residueRunMatchesClean(tag: String, landing: org.apache.spark.sql.DataFrame)
      (ingest: (String, String, String, String) => Unit): Unit = {
    val src = java.nio.file.Files.createTempDirectory(s"graft_${tag}_src_").toString
    landing.coalesce(1).write.mode("append").parquet(src)
    val Seq(clean, crashed) = Seq("clean", "crashed").map { k =>
      val root = java.nio.file.Files.createTempDirectory(s"graft_${tag}_${k}_").toString
      (s"$root/h", s"$root/f", s"$root/ckpt")
    }
    plantTemporary(crashed._1, 0L)
    plantTemporary(crashed._2, 0L)
    for ((hist, flags, ckpt) <- Seq(clean, crashed)) ingest(src, hist, flags, ckpt)
    assert(Landings.committedIds(spark, crashed._2) == Seq(0L))
    assert(sameRows(Landings.readFlags(spark, crashed._2),
      Landings.readFlags(spark, clean._2)))
    assert(sameRows(spark.read.parquet(crashed._1), spark.read.parquet(clean._1)))
  }

  test("crash residue: incrementalDedup commits past a crashed first batch") {
    import graft.streaming.DocStreams
    residueRunMatchesClean("ddupres", spark.read.schema(DocStreams.docSchema)
        .parquet(s"$Sf0001/documents.parquet")) { (src, hist, flags, ckpt) =>
      DocStreams.incrementalDedup(spark, src, hist, flags, ckpt)
    }
  }

  test("crash residue: semanticIngest commits past a crashed first batch") {
    import graft.streaming.VecStreams
    residueRunMatchesClean("semres", spark.read.schema(VecStreams.embSchema)
        .parquet(s"$Sf0001/embeddings.parquet")) { (src, hist, flags, ckpt) =>
      VecStreams.semanticIngest(spark, src, hist, flags, ckpt)
    }
  }

  test("crash residue: readRollup skips an uncommitted newer generation; the next landing commits over it") {
    import graft.ops.Relational
    val src = java.nio.file.Files.createTempDirectory("graft_rollres_src_").toString
    val state = java.nio.file.Files.createTempDirectory("graft_rollres_state_").toString + "/s"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_rollres_ckpt_").toString
    def expect(df: org.apache.spark.sql.DataFrame) = Relational.aggState(
      df.select(col("event_type"),
        round(col("value") * 100, 0).cast("long").as("cents")),
      Seq("event_type"), Seq("cents"))
    val ev = batchEvents
    ev.where(col("event_id") % 2 === 0).coalesce(1)
      .write.mode("append").parquet(src)
    EventStreams.rollupIngest(spark, src, state, ckpt)
    plantTemporary(state, 1L)
    assert(sameRows(EventStreams.readRollup(spark, state),
      expect(ev.where(col("event_id") % 2 === 0))))
    ev.where(col("event_id") % 2 === 1).coalesce(1)
      .write.mode("append").parquet(src)
    EventStreams.rollupIngest(spark, src, state, ckpt)
    assert(Landings.committedIds(spark, state) == Seq(0L, 1L))
    assert(sameRows(EventStreams.readRollup(spark, state), expect(ev)))
  }

  test("readFlags skips a batch dir holding a part file but no _SUCCESS") {
    val flags = java.nio.file.Files.createTempDirectory("graft_flagres_").toString + "/f"
    Seq((1L, false), (2L, true)).toDF("doc_id", "is_dup_of_history")
      .coalesce(1).write.parquet(s"$flags/batch=0")
    // a crashed job's part file that never got its commit marker
    val part = new java.io.File(s"$flags/batch=0").listFiles()
      .find(_.getName.startsWith("part-")).get
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$flags/batch=1"))
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(s"$flags/batch=1/${part.getName}"))
    assert(Landings.committedIds(spark, flags) == Seq(0L))
    val got = Landings.readFlags(spark, flags)
    assert(got.count() == 2)
    assert(got.where(col("batch") =!= 0).isEmpty)
  }
}
