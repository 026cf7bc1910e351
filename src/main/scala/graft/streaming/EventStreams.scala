package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupState
import org.apache.spark.sql.types._

/** Structured Streaming over the events table: the same transforms the
  * batch queries run, expressed as incremental plans. The reference is
  * batch-only (SURVEY §2.11) — this module is the streaming extension:
  * file-source → watermark → windowed/sessionized aggregation → sink.
  *
  * Design for scale: all aggregations are keyed (event_type / user_id), so
  * state partitions across executors; watermarks bound state size; the
  * same code path serves a kafka source in production (swap `readStream`
  * format).
  */
object EventStreams {

  /** events.parquet schema — `ts` is naive TIMESTAMP(µs)
    * (isAdjustedToUTC=false → TimestampNTZType), the canonical encoding
    * (TESTDATA ts contract; legacy INT64-nanos batch files go through the
    * schema-adaptive `Tables.eventTimeUs` instead — a file STREAM needs one
    * declared schema up front, so the stream pins the canonical one).
    */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  def readEventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)

  /** Event-time timestamp (µs precision) from whatever `ts` encoding the
    * frame carries: `timestamp_micros ∘ eventTimeUs` is the identity on
    * canonical TIMESTAMP(µs) input and the ns→µs decode on legacy Longs —
    * ONE definition of event time for batch and streaming, so the two
    * sides of every streaming==batch equivalence spec cannot diverge on
    * units (the failure mode round 9 hit: µs-Longs read as ns passed both
    * equally-wrong sides of the comparison).
    */
  def withEventTime(df: DataFrame): DataFrame =
    df.withColumn("event_time", timestamp_micros(graft.Tables.eventTimeUs(df)))

  /** Hourly tumbling-window rollup per event type; 1-hour watermark bounds
    * state. Works identically on a batch frame (window() is batch-legal),
    * which is how the equivalence spec checks it.
    */
  def hourlyRollup(events: DataFrame): DataFrame =
    withEventTime(events)
      .withWatermark("event_time", "1 hour")
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Fixed value-bucket column shared by the drift reference and monitor
    * (c9's $50 buckets, clamped to [0, 9] so a negative value cannot fall
    * outside the wide layout) — ONE definition so the streaming and
    * reference histograms cannot disagree on binning. NULL-propagating by
    * an EXPLICIT guard: Spark's `least`/`greatest` SKIP nulls (verified:
    * `greatest(least(floor(NULL/50), 9), 0)` = 9, DuckDB agrees), so
    * without the guard a null value would silently land in the top bucket
    * and corrupt the distribution. A null value bins nowhere — null RATE
    * is a completeness signal (c4), not a value-distribution one — which
    * is also why n/rn count `value`, not rows: n must equal Σ buckets.
    */
  private def driftBucket: Column =
    when(col("value").isNotNull,
      greatest(least(floor(col("value") / 50.0), lit(9.0)), lit(0.0))
        .cast("long"))

  val DriftBuckets = 10

  /** Offline-trained reference histogram for the drift monitor: per
    * event_type, the value distribution as `DriftBuckets` wide columns
    * (r0..r9) plus the total — the statistic a production pipeline
    * refreshes on a schedule from a trusted snapshot while the monitor
    * compares live windows against it per micro-batch.
    */
  def driftReference(events: DataFrame): DataFrame = {
    // count(value), not count(*): a null value lands in no bucket (null
    // driftBucket increments no r*), so counting it into rn would make the
    // histogram mass sum to less than the total and skew every smoothed q.
    val aggs = (0 until DriftBuckets).map(b =>
      sum(when(driftBucket === b, 1L).otherwise(0L)).as(s"r$b")) :+
      count(col("value")).as("rn")
    events.groupBy(col("event_type")).agg(aggs.head, aggs.tail: _*)
  }

  /** Streaming distribution-drift monitor — c9's PSI against the offline
    * reference, evaluated per 6-hour tumbling window and event type. The
    * live histogram is ONE aggregation (each bucket a conditional count
    * — a second chained aggregation would be illegal in append-mode
    * streaming), the reference joins stream-static broadcast LEFT (a
    * type the reference never saw must alarm, not vanish), and the PSI
    * fold is per-row arithmetic over the 2×10 count columns with the
    * same add-0.5 observed-bucket smoothing as the batch gate. State is
    * bounded by the
    * watermark; output is one row per (window, type) — the alarm feed a
    * 100 TB ingest pipeline pages on when a source's value distribution
    * shifts mid-crawl. Batch-legal unchanged (window() works on static
    * frames), which is how the equivalence spec checks it.
    */
  def driftMonitor(events: DataFrame, ref: DataFrame): DataFrame = {
    // count(value) for the same reason as driftReference's rn: n must
    // equal the histogram mass (Σ c*), or smoothed p stops summing to 1
    // over observed buckets whenever a window carries null-valued events.
    val aggs = (0 until DriftBuckets).map(b =>
      sum(when(driftBucket === b, 1L).otherwise(0L)).as(s"c$b")) :+
      count(col("value")).as("n")
    val live = withEventTime(events)
      .withWatermark("event_time", "1 hour")
      .groupBy(window(col("event_time"), "6 hours"), col("event_type"))
      .agg(aggs.head, aggs.tail: _*)
    // LEFT join: an event_type absent from the reference is MAXIMAL drift
    // — an inner join would silence exactly those windows (the alarm the
    // monitor exists to raise). Missing reference counts coalesce to 0,
    // so q falls back to pure smoothing mass and PSI reads large.
    val joined = live.join(broadcast(ref), Seq("event_type"), "left")
    val cb = (0 until DriftBuckets).map(b => col(s"c$b"))
    val rb = (0 until DriftBuckets).map(b => coalesce(col(s"r$b"), lit(0L)))
    val rn = coalesce(col("rn"), lit(0L))
    // Smoothing matches the batch c9 gate: k counts OBSERVED buckets
    // (nonzero on either side) and the PSI sum runs over observed buckets
    // only — per-row arithmetic over the wide columns, so it stays legal
    // after the one streaming aggregation. Each term (p−q)·ln(p/q) is
    // ≥ 0 by construction, so PSI ≥ 0 exactly (the spec pins this).
    val obs = (0 until DriftBuckets).map(b =>
      when(cb(b) > 0 || rb(b) > 0, 1.0).otherwise(0.0))
    val kObs = obs.reduce(_ + _)
    val psi = (0 until DriftBuckets).map { b =>
      val p = (cb(b) + 0.5) / (col("n") + kObs * 0.5)
      val q = (rb(b) + 0.5) / (rn + kObs * 0.5)
      obs(b) * (p - q) * log(p / q)
    }.reduce(_ + _)
    // ref_n rides along because PSI alone cannot flag an UNSEEN type:
    // over observed-bucket support, a single-bucket live histogram reads
    // psi = 0 even against zero reference mass (both "distributions" are
    // 100%-in-that-bucket). Absence of reference is its own alarm bit.
    joined
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n").as("n_events"), rn.as("ref_n"), round(psi, 6).as("psi"))
  }

  /** Native session windows: 30-minute inactivity gap per user — the
    * streaming twin of the batch `ev_sessionize` query.
    */
  def sessionize(events: DataFrame): DataFrame =
    withEventTime(events)
      .withWatermark("event_time", "1 hour")
      .groupBy(col("user_id"), session_window(col("event_time"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("session_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"), col("session_value"))

  /** Stream-stream interval join: attribute each purchase to every click
    * by the same user in the preceding hour — the streaming twin of the j7
    * as-of enrichment (kept as a full interval join here; streaming
    * arg-min needs a downstream aggregation). Both sides carry watermarks
    * and the join condition bounds click_time to a purchase-relative
    * interval, so Spark can size and expire the join state: clicks older
    * than watermark + interval drop from state — the property that keeps a
    * stream-stream join runnable forever at ingest scale.
    */
  def clickAttribution(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = withEventTime(clicks).where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("event_time").as("click_time"))
      .withWatermark("click_time", "1 hour")
    val p = withEventTime(purchases).where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("event_time").as("purchase_time"))
      .withWatermark("purchase_time", "2 hours")
    p.join(c, expr(
      "p_user = c_user AND click_time <= purchase_time " +
        "AND click_time >= purchase_time - interval 1 hour"))
      .select(col("purchase_id"), col("p_user").as("user_id"),
        col("click_id"), col("purchase_time"), col("click_time"))
  }

  /** Checkpointed incremental file ingest — the streaming twin of the K2
    * batch incremental append: every run processes exactly the source
    * files not yet recorded in the checkpoint's file log and appends them
    * to a parquet sink, then stops (AvailableNow). Re-running after a
    * crash or on a schedule never re-processes a file — the offset log
    * commits atomically with the sink's transaction log — which is the
    * exactly-once ingestion contract a training corpus needs when the
    * landing zone receives files continuously. Returns after the run
    * terminates.
    */
  def incrementalIngest(spark: SparkSession, srcDir: String,
                        sinkDir: String, checkpointDir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    def fsOf(dir: String) =
      new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    def dataFiles(): Set[String] = {
      val fs = fsOf(sinkDir)
      val p = new org.apache.hadoop.fs.Path(sinkDir)
      if (!fs.exists(p)) Set.empty
      else fs.listStatus(p).iterator
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .map(_.getPath.toString).toSet
    }
    // Durable per-file gate ledger, kept next to the stream checkpoint
    // (lines "<OK|POISONED>\t<file name>"). The gate scans (current data
    // files − ledger): a before/after listing alone would permanently
    // exempt a batch whose run died BETWEEN sink commit and gate
    // (exactly-once means the batch never reprocesses, so nothing would
    // ever look at it again); with the ledger, any committed-but-unseen
    // file is gated by the next run. Poisoned files are recorded as such
    // and the run throws ONCE — later runs gate only genuinely new files,
    // so one bad batch alarms loudly without wedging the ingest forever,
    // and the ledger doubles as the operator's quarantine list.
    val ledgerPath = new org.apache.hadoop.fs.Path(
      checkpointDir, "graft_gate_ledger.txt")
    def readLedger(): Map[String, String] = {
      val fs = fsOf(checkpointDir)
      if (!fs.exists(ledgerPath)) Map.empty
      else {
        val in = fs.open(ledgerPath)
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .filter(_.contains('\t')).map { l =>
            val Array(st, name) = l.split("\t", 2); name -> st
          }.toMap
        finally in.close()
      }
    }
    def writeLedger(m: Map[String, String]): Unit = {
      val fs = fsOf(checkpointDir)
      val out = fs.create(ledgerPath, true)
      try out.write(m.toSeq.sortBy(_._1)
        .map { case (name, st) => s"$st\t$name" }
        .mkString("", "\n", "\n").getBytes("UTF-8"))
      finally out.close()
    }
    val q = readEventStream(spark, srcDir)
      .writeStream.format("parquet")
      .option("path", sinkDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // Ingest gate — the value-level unit guard at the seam where new files
    // enter the lake: schema dispatch (eventTimeUs) accepts any credible
    // TIMESTAMP encoding, but can't tell a producer that wrote ms-as-µs
    // values (every decoded instant lands 1000× off, deep in 1970). One
    // per-file min/max aggregate over the unseen files converts that into
    // a loud ingest failure instead of poisoning every downstream
    // watermark — per FILE, so a mixed batch quarantines only its bad
    // files. A run with nothing unseen has nothing to gate (and an empty
    // sink has no schema to infer — the declared eventSchema covers that).
    val ledger = readLedger()
    def baseName(p: String): String = p.substring(p.lastIndexOf('/') + 1)
    val pendingByName = dataFiles().map(p => baseName(p) -> p).toMap -- ledger.keys
    if (pendingByName.nonEmpty) {
      val landed = spark.read.schema(eventSchema)
        .parquet(pendingByName.values.toSeq.sorted: _*)
      val perFile = landed
        .select(input_file_name().as("f"),
          graft.Tables.eventTimeUs(landed).as("tus"))
        .groupBy("f").agg(min("tus").as("lo"), max("tus").as("hi"))
        .collect()
        .map(r => (baseName(r.getString(0)), r.getLong(1), r.getLong(2)))
      val bad = perFile.collect {
        case (name, lo, hi)
          if lo < graft.ops.Checks.EpochLoUs || hi >= graft.ops.Checks.EpochHiUs =>
            (name, lo, hi)
      }
      // zero-row files never appear in perFile: nothing to mis-decode → OK
      writeLedger(ledger ++
        pendingByName.keys.map(n => n -> "OK") ++
        bad.map { case (n, _, _) => n -> "POISONED" })
      if (bad.nonEmpty) throw new IllegalStateException(
        s"incrementalIngest: epochRangeUs violation in landed files under " +
          s"$sinkDir — quarantined in $ledgerPath: " +
          bad.map { case (n, lo, hi) => s"$n spans [$lo, $hi] µs" }.mkString("; "))
    }
  }

  /** Streaming twin of the a14 incremental rollup: each micro-batch
    * reduces to its algebraic aggregate state (`Relational.aggState` on
    * the per-type value-cents measure) and merges with the prior
    * maintained state (`mergeAggStates`) — the keys-sized materialized
    * view updated at ingest, history never re-read. The merged FULL state
    * lands as a `Landings` batch, rebuilt from the newest committed
    * generation below its own id, so per-batch cost is O(batch) + a
    * keys-sized merge regardless of history length, and the newest
    * committed generation IS the current rollup (`readRollup`). At 100 TB
    * this is the view-maintenance shape: the corpus streams through once;
    * only types×measures rows persist.
    */
  def rollupIngest(spark: SparkSession, srcDir: String, stateDir: String,
                   checkpointDir: String): Unit =
    Landings.each(spark, eventSchema, srcDir, checkpointDir) { (batch, batchId) =>
      val prevId = guardedPrevId(stateDir, batchId, checkpointDir,
        Landings.committedIds(spark, stateDir))
      val st = graft.ops.Relational.aggState(
        batch.select(col("event_type"),
          round(col("value") * 100, 0).cast("long").as("cents")),
        Seq("event_type"), Seq("cents"))
      val merged = prevId.map(id => spark.read.parquet(s"$stateDir/batch=$id")) match {
        case Some(prev) => graft.ops.Relational.mergeAggStates(
          Seq(prev, st), Seq("event_type"), Seq("cents"))
        case None => st
      }
      merged.write.mode("overwrite").parquet(s"$stateDir/batch=$batchId")
      pruneSuperseded(spark, stateDir, batchId, prevId)
    }

  /** The current maintained rollup: the newest committed `batch=<id>` state
    * table. Fails if the ingest has never committed one.
    *
    * Concurrent-prune handling (the race `pruneSuperseded` documents): a
    * reader that resolved a state id just before an ingest run can find
    * that directory pruned once it is more than one generation stale. If
    * the resolved dir is gone but a NEWER one exists, the read falls
    * forward to it (bounded retries — a livelock under continuous ingest
    * still terminates); if no newer generation exists the state is corrupt
    * or the single-writer contract was violated, and the error says so.
    * The retry closes the resolve-time window; the returned frame is still
    * lazy, so a consumer that sits on it across 2+ further ingest commits
    * re-enters the documented contract (run readers between ingest runs).
    */
  def readRollup(spark: SparkSession, stateDir: String): DataFrame =
    readRollupFrom(spark, stateDir, None)

  /** `startAt` pins the generation the reader initially resolved — the
    * test seam that replays the concurrent-prune race deterministically;
    * production callers pass None (= newest).
    */
  @annotation.tailrec
  private[graft] final def readRollupFrom(spark: SparkSession, stateDir: String,
                                          startAt: Option[Long],
                                          attempts: Int = 0): DataFrame = {
    val ids = Landings.committedIds(spark, stateDir)
    val id = startAt.orElse(ids.maxOption).getOrElse(
      throw new IllegalStateException(
        s"readRollup: no rollup state under $stateDir — run rollupIngest first"))
    if (ids.contains(id)) spark.read.parquet(s"$stateDir/batch=$id")
    else {
      val newest = ids.maxOption
      if (newest.exists(_ > id) && attempts < 3)
        readRollupFrom(spark, stateDir, newest, attempts + 1)
      else throw new IllegalStateException(
        s"readRollup: state batch=$id under $stateDir vanished with no newer " +
          "generation to fall forward to — a concurrent ingest pruned past " +
          "the one-generation grace (the state dir is single-writer; run " +
          "readers between ingest runs) or the state is corrupt")
    }
  }

  /** Stale-state guard for rollupIngest over its committed generation
    * `ids`: a state id AHEAD of the incoming batch means the checkpoint
    * was reset (ids restart at 0) while stateDir survived — the merge
    * would silently exclude the high-id state while readers keep
    * returning it. That split-brain has no safe automatic resolution;
    * fail loudly. Returns the newest id strictly below `batchId` (a
    * re-executed batch never merges against its own partial output).
    */
  private def guardedPrevId(stateDir: String, batchId: Long,
                            checkpointDir: String, ids: Seq[Long]): Option[Long] = {
    val ahead = ids.filter(_ > batchId)
    if (ahead.nonEmpty) throw new IllegalStateException(
      s"rollupIngest: state batch=${ahead.max} under $stateDir is ahead " +
        s"of incoming batch $batchId — checkpoint $checkpointDir was " +
        "reset while state survived; delete both or restore the checkpoint")
    ids.filter(_ < batchId).maxOption
  }

  /** Prune superseded snapshots AFTER the new state commits: keep the
    * just-written `batchId` plus the `prevId` it merged from (the fallback
    * a re-executed batch rebuilds against); everything older is
    * unreachable — without pruning the state dir grows one full snapshot
    * per micro-batch forever.
    *
    * SINGLE-WRITER, NO-CONCURRENT-READER contract: pruning runs right
    * after each batch commits, so a reader that resolved its `batch=<id>`
    * just before an ingest run can see that dir vanish mid-read once it is
    * more than one generation stale (keeping `prevId` gives exactly one
    * generation of grace). The ingest twins are AvailableNow one-shots —
    * run `readRollup`/`readScd2` between runs, not concurrently with one,
    * or point readers at their own copy of the state dir.
    */
  private def pruneSuperseded(spark: SparkSession, stateDir: String,
                              batchId: Long, prevId: Option[Long]): Unit = {
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Landings.batchIds(spark, stateDir)
      .filter(id => id < batchId && !prevId.contains(id))
      .foreach(id => fs.delete(
        new org.apache.hadoop.fs.Path(s"$stateDir/batch=$id"), true))
  }

  /** Streaming twin of the scd2 gate: the user-tier HISTORY DIMENSION as a
    * maintained table instead of a per-query recompute. Each micro-batch
    * re-feeds the prior OPEN segments (as their anchor events, carried
    * unconditionally) together with the batch's events through the shared
    * `Relational.scd2Compress`; closed segments are immutable and pass
    * through untouched.
    *
    * The history is BUCKETED by `pmod(hash(user_id), buckets)` and a batch
    * rewrites ONLY the buckets its users hash into: per-batch cost is
    * O(batch + touched buckets' history), NOT O(total history) — the
    * round-12 probe measured the previous full-snapshot rewrite growing
    * with the 7.5M-row history; a small landing now leaves the other
    * buckets' files untouched. A tiny `manifest.json` per committed batch
    * records, for every bucket, which `batch=<id>` directory holds its
    * current snapshot. The state runs on `Landings.each`, but its commit
    * point is the manifest write, not `_SUCCESS`: a re-executed batch
    * recomputes the same touched buckets from the previous manifest (ids
    * strictly below its own) and overwrites its own partial output,
    * manifest last.
    *
    * Correctness contract: batches must arrive in per-user event order
    * (the append-mostly landing-zone shape; compression absorbs non-change
    * events, so an event older than a user's last seen one cannot be
    * merged retroactively). The contract is ENFORCED, not assumed: a tiny
    * per-user `seen` watermark table (last (tus, event_id) per user) rides
    * with the state, bucketed the same way. An event STRICTLY older than
    * its user's watermark fails loudly; an event EQUAL to the watermark
    * (same (tus, event_id)) is an at-least-once re-delivery of the
    * last-seen event and is absorbed silently — a duplicate of an OLDER
    * event is indistinguishable from genuine disorder and stays fatal.
    * Given in-order arrival, the maintained table is invariant to WHERE
    * the stream is cut into batches (StreamingSpec proves cut-independence
    * + restart).
    *
    * Single-writer assumption (shared with rollupIngest): superseded
    * bucket snapshots are pruned right after each commit, so a reader that
    * resolved a manifest older than the previous generation can fail
    * mid-read if ingest runs concurrently — run readers between ingest
    * runs, or against their own state-dir copy.
    */
  def scd2Ingest(spark: SparkSession, srcDir: String, stateDir: String,
                 checkpointDir: String, buckets: Int = 64): Unit = {
    require(buckets >= 1, s"scd2Ingest needs buckets >= 1, got $buckets")
    Landings.each(spark, eventSchema, srcDir, checkpointDir) { (batch, batchId) =>
      val ids = manifestIds(spark, stateDir)
      // State GENERATION ids are decoupled from streaming batch ids: the
      // manifest's `txn` field records the last streaming batch applied
      // (the Delta-txn-metadata idempotence pattern), so maintenance
      // commits (`rebucketScd2`) can advance the generation counter
      // without desynchronizing the checkpoint. Guard + idempotence run
      // against txn: an incoming batch BELOW the watermark means the
      // checkpoint was reset while state survived (split-brain, fatal);
      // EQUAL means the commit landed but the checkpoint marker did not
      // (crash-recovery replay) — the manifest being the commit point,
      // the batch is already durable and the replay is a no-op.
      val prevId = ids.maxOption
      val prevMan = prevId.map(id => readManifest(spark, stateDir, id))
      val qid = checkpointQueryId(spark, checkpointDir)
      prevMan.foreach { m =>
        if (batchId < m.txn) throw new IllegalStateException(
          s"scd2Ingest: state under $stateDir was last written by " +
            s"streaming batch ${m.txn}, ahead of incoming batch $batchId " +
            s"— checkpoint $checkpointDir was reset while state " +
            "survived; delete both or restore the checkpoint")
        // Equal txn is only a safe no-op when the replay comes from the
        // SAME checkpoint: a reset regenerates the query id AND restarts
        // batch ids at 0, so with exactly one committed generation a
        // reset's batch 0 (all files, a superset of the committed one)
        // would otherwise be silently swallowed as "already applied".
        if (batchId == m.txn && m.appId != qid) throw new IllegalStateException(
          s"scd2Ingest: incoming batch $batchId matches the state's txn " +
            s"watermark but was produced by a different checkpoint " +
            s"(query $qid vs committed ${m.appId}) — checkpoint " +
            s"$checkpointDir was reset while state under $stateDir " +
            "survived; the re-delivered batch is NOT the committed one. " +
            "Delete the state dir or restore the original checkpoint")
        require(m.buckets == buckets,
          s"scd2Ingest: state under $stateDir was built with ${m.buckets} " +
            s"buckets, cannot ingest with $buckets — keep the bucket count " +
            "stable for a state dir's lifetime (or run rebucketScd2 first)")
      }
      if (!prevMan.exists(_.txn == batchId)) {
        val genId = prevId.map(_ + 1).getOrElse(batchId)
        // Same event→(user, tier) extraction as the batch gate.
        val ev = batch.select(col("user_id"), col("event_id"),
          graft.Tables.eventTimeUs(batch).as("tus"),
          graft.ops.Relational.floorDivExact(
            expr("cast(get_json_object(props, '$.k') as bigint)"), 25L).as("tier"))
        val bucketCol = bucketOf(buckets)
        // The touched-bucket set is ≤ `buckets` ints — a driver-safe
        // collect; the same job's counts size the state write below.
        val bucketCounts = ev.groupBy(bucketCol.as("b"))
          .agg(count(lit(1)).as("c")).collect()
        val touched = bucketCounts.map(_.getInt(0)).sorted
        val batchRows = bucketCounts.map(_.getLong(1)).sum
        val evSeen = ev.groupBy(col("user_id"))
          .agg(max(struct(col("tus"), col("event_id"))).as("m"))
          .select(col("user_id"), col("m.tus").as("last_us"),
            col("m.event_id").as("last_eid"))
        // Prior state for the TOUCHED buckets only — users outside them
        // cannot appear in this batch by construction of the hash.
        def prior(kind: String): Seq[String] = prevMan.toSeq.flatMap(m =>
          touched.flatMap(b => m.entries.get(b)
            .map(mid => s"$stateDir/batch=$mid/$kind/bucket=$b")))
        val (segs, seen) = prior("segments") match {
          case Seq() =>
            (graft.ops.Relational.scd2Compress(ev), evSeen)
          case segPaths =>
            val prevSegs = spark.read.parquet(segPaths: _*)
            val prevSeen = spark.read.parquet(prior("seen"): _*)
            val joined = ev.join(prevSeen, Seq("user_id"), "left")
            val lateRows = joined
              .where(struct(col("tus"), col("event_id")) <
                struct(col("last_us"), col("last_eid")))
              .select(col("user_id"), col("tus"), col("event_id"))
              .limit(3).collect()
            if (lateRows.nonEmpty) throw new IllegalStateException(
              s"scd2Ingest: batch $batchId contains out-of-order events " +
                "(older than a user's maintained watermark) — history cannot " +
                "be merged retroactively; reprocess from scratch or fix the " +
                s"source ordering. Examples: ${lateRows.mkString(", ")}")
            // Equal to the watermark = exact re-delivery of the last-seen
            // event (at-least-once upstream): absorb it instead of wedging
            // the pipeline — it would merge as a non-change anyway.
            val evNew = joined.where(col("last_us").isNull ||
                struct(col("tus"), col("event_id")) >
                  struct(col("last_us"), col("last_eid")))
              .select(col("user_id"), col("event_id"), col("tus"), col("tier"))
            val newSegs = graft.ops.Relational.scd2Merge(prevSegs, evNew)
            val newSeen = prevSeen.unionByName(evSeen)
              .groupBy(col("user_id"))
              .agg(max(struct(col("last_us"), col("last_eid"))).as("m"))
              .select(col("user_id"), col("m.last_us").as("last_us"),
                col("m.last_eid").as("last_eid"))
            (newSegs, newSeen)
        }
        // Every touched bucket has ≥1 output row (each user in the batch
        // contributes a segment and a seen row), so partitionBy emits
        // exactly the touched `bucket=<b>` dirs the manifest points at.
        // The rewrite's size is touched-bucket HISTORY + landing, not the
        // landing alone (a backfill-sized batch touching every bucket
        // rewrites the whole history), so the write is sized by that
        // bound. Prior rows come from the previous manifest's per-bucket
        // row stamps — a driver-side map lookup, no Spark job.
        def priorRows(stamps: Scd2Manifest => Map[Int, Long]): Long =
          prevMan.fold(0L)(m =>
            touched.filter(m.entries.contains).map(stamps(m)).sum)
        bucketAligned(segs.withColumn("bucket", bucketCol),
            priorRows(_.segRows) + batchRows, buckets)
          .write.partitionBy("bucket").mode("overwrite")
          .parquet(s"$stateDir/batch=$genId/segments")
        bucketAligned(seen.withColumn("bucket", bucketCol),
            priorRows(_.seenRows) + batchRows, buckets)
          .write.partitionBy("bucket").mode("overwrite")
          .parquet(s"$stateDir/batch=$genId/seen")
        val entries = prevMan.map(_.entries).getOrElse(Map.empty) ++
          touched.map(_ -> genId)
        writeManifest(spark, stateDir, genId,
          Scd2Manifest(buckets, batchId, entries, qid,
            stampRowsFor(spark, stateDir, genId, "segments", entries,
              prevMan.map(_.segRows).getOrElse(Map.empty)),
            stampRowsFor(spark, stateDir, genId, "seen", entries,
              prevMan.map(_.seenRows).getOrElse(Map.empty)))) // commit point
        pruneScd2(spark, stateDir, genId, prevId)
      }
    }
  }

  /** The current maintained SCD2 history — same columns as the batch gate
    * (`anchor_eid` is internal maintenance state). Resolves the newest
    * manifest and unions each bucket's snapshot from whichever batch
    * directory last rewrote it. Fails if the ingest has never run.
    *
    * Concurrent-prune handling (same contract as `readRollup`): every
    * bucket path the manifest references is existence-checked at resolve
    * time; if any was pruned but a NEWER manifest has committed, the read
    * falls forward to it (bounded retries), otherwise it fails loudly
    * naming the single-writer contract. The returned frame is lazy — a
    * consumer holding it across 2+ further ingest commits is back in the
    * documented race; the one-generation prune grace covers exactly one.
    */
  def readScd2(spark: SparkSession, stateDir: String): DataFrame =
    readScd2From(spark, stateDir, None)

  /** `startAt` pins the manifest the reader initially resolved — the test
    * seam that replays the concurrent-prune race deterministically;
    * production callers pass None (= newest).
    */
  @annotation.tailrec
  private[graft] final def readScd2From(spark: SparkSession, stateDir: String,
                                        startAt: Option[Long],
                                        attempts: Int = 0): DataFrame = {
    val id = startAt.orElse(manifestIds(spark, stateDir).maxOption).getOrElse(
      throw new IllegalStateException(
        s"readScd2: no history state under $stateDir — run scd2Ingest first"))
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Three distinct things can vanish under a concurrent prune, and the
    // fall-forward error must name the one that actually did: the manifest
    // itself (whole-dir prune mid-resolve), a bucket path the exists-probe
    // catches, or a bucket path that goes between the probe and the read's
    // schema resolution (named via the read's own exception). Each try is
    // scoped to exactly one of those so a miss cannot be misattributed.
    val resolved: Either[Seq[String], DataFrame] =
      (try Right(readManifest(spark, stateDir, id))
       catch {
         case _: java.io.FileNotFoundException =>
           Left(Seq(manifestFile(stateDir, id).toString))
       }).flatMap { m =>
        val paths = m.entries.toSeq.sorted.map { case (b, mid) =>
          s"$stateDir/batch=$mid/segments/bucket=$b" }
        val gone = paths.filterNot(p =>
          fs.exists(new org.apache.hadoop.fs.Path(p)))
        if (gone.nonEmpty) Left(gone)
        else
          try Right(spark.read.parquet(paths: _*)
            .select(col("user_id"), col("tier"), col("valid_from_us"),
              col("valid_to_us"), col("is_current")))
          catch {
            case e: java.io.FileNotFoundException =>
              Left(Seq(Option(e.getMessage).getOrElse(paths.head)))
          }
      }
    resolved match {
      case Right(df) => df
      case Left(missing) =>
        val newest = manifestIds(spark, stateDir).maxOption
        if (newest.exists(_ > id) && attempts < 3)
          readScd2From(spark, stateDir, newest, attempts + 1)
        else throw new IllegalStateException(
          s"readScd2: manifest batch=$id under $stateDir references pruned " +
            s"snapshot(s) [${missing.take(3).mkString(", ")}] and no newer " +
            "manifest exists to fall forward to — a concurrent ingest pruned " +
            "past the one-generation grace (the state dir is single-writer; " +
            "run readers between ingest runs) or the state is corrupt")
    }
  }

  /** Bucket-aligned, row-sized state write (the committer lesson measured
    * on the fact write, `FactLoad.writeClustered`): `partitionBy("bucket")`
    * straight off a hash-derived column hands every upstream task rows for
    * ~every bucket, so the committer either fans out tasks×buckets small
    * files (a 640-task × 256-bucket history ≈ 160k files — exactly the
    * 100-TB state size the rebucket path exists for) or pays a per-task
    * sort over the unclustered partition column (the measured spill term).
    * The alignment shuffle is a HASH repartition on (bucket, salt) with
    * salt = hash(user_id) mod ceil(parts/buckets) — each (bucket, salt)
    * group lands wholly in one task, so a bucket spans at most
    * ceil(parts/buckets) files (1 whenever tasks outnumber rows-per-task
    * groups less than buckets) while parallelism stays `parts` even when
    * parts >> buckets (the 100-TB rebucket shape). Range partitioning was
    * measured and rejected here: repartitionByRange SAMPLES its child,
    * re-executing the upstream merge plan once more per landing (+~40% on
    * the probe's full-touch landings); the salted hash is sample-free and
    * deterministic. `sortWithinPartitions` keeps one open writer at a time
    * per task and clusters user_id for the per-bucket readers. `estRows`
    * sizes the partition count (~250k rows/task, the measured spill
    * threshold); an upper-bound estimate only makes tasks smaller. A write
    * that fits one task skips the extra shuffle, keeping the ordinary
    * per-landing plan exactly as the r14 ladder measured it.
    * `spark.graft.scd2.rowsPerWriteTask` overrides the 250k default — the
    * measured threshold is for WIDE fact rows; scd2 state rows are narrow,
    * so an operator can raise it (and the spec lowers it to drive the
    * alignment path at test scale).
    */
  private[graft] def bucketAligned(df: DataFrame, estRows: Long,
                                   buckets: Int): DataFrame = {
    val perTask = df.sparkSession.conf
      .get("spark.graft.scd2.rowsPerWriteTask", "250000").toLong
    val parts = graft.ops.Relational.rowSizedPartitions(estRows, perTask)
    if (parts <= 1) df
    else {
      val salt = (parts + buckets - 1) / buckets
      // The salt hash carries an extra constant column, making it
      // independent of the bucket hash `pmod(hash(user_id), buckets)`.
      // Salting with the SAME hash would yield only lcm(buckets, salt)
      // distinct (bucket, salt) groups — when gcd(buckets, salt) > 1
      // (power-of-two buckets with an even salt, the typical large-rebucket
      // shape) the salt adds zero groups and parallelism collapses to
      // <= buckets instead of staying `parts`.
      df.repartition(parts, col("bucket"),
          pmod(hash(col("user_id"), lit(1)), lit(salt)))
        .sortWithinPartitions(col("bucket"), col("user_id"))
    }
  }

  /** The SCD2 state bucket a row's user hashes into. */
  private def bucketOf(buckets: Int): Column =
    pmod(hash(col("user_id")), lit(buckets))

  /** Maintenance: rewrite the current SCD2 snapshot into `newBuckets` hash
    * buckets, committed as a new state generation. The bucket count is the
    * per-landing-cost knob (SCALE.md's r14 bucket ladder: smallest B whose
    * per-bucket history fits the rewrite budget) and the right B GROWS
    * with history — at 100-TB state B scales with history, not landings —
    * so a long-lived state dir must be able to migrate without a full
    * rebuild of checkpoint + state. This is that path: read the newest
    * manifest's snapshot, rewrite segments+seen under the new hash, commit
    * a manifest carrying the SAME `txn` watermark (streaming progress is
    * untouched — the next ingest, run with `buckets = newBuckets`,
    * continues from its checkpoint as if the rebucket never happened), and
    * prune superseded generations. O(total history) by design — this is
    * the amortized-rare OPTIMIZE, not the per-landing path. Same
    * single-writer contract as ingest: run it BETWEEN ingest runs.
    */
  def rebucketScd2(spark: SparkSession, stateDir: String, newBuckets: Int): Unit = {
    require(newBuckets >= 1, s"rebucketScd2 needs newBuckets >= 1, got $newBuckets")
    val prevId = manifestIds(spark, stateDir).maxOption.getOrElse(
      throw new IllegalStateException(
        s"rebucketScd2: no history state under $stateDir — run scd2Ingest first"))
    val m = readManifest(spark, stateDir, prevId)
    if (m.buckets == newBuckets) return // already there: nothing to commit
    val genId = prevId + 1
    def paths(kind: String): Seq[String] = m.entries.toSeq.sorted.map {
      case (b, mid) => s"$stateDir/batch=$mid/$kind/bucket=$b" }
    for ((kind, stamps) <- Seq("segments" -> m.segRows, "seen" -> m.seenRows)) {
      // write sizing from the manifest's row stamps (driver-side lookup)
      bucketAligned(spark.read.parquet(paths(kind): _*)
          .withColumn("bucket", bucketOf(newBuckets)),
          m.entries.keysIterator.map(stamps).sum, newBuckets)
        .write.partitionBy("bucket").mode("overwrite")
        .parquet(s"$stateDir/batch=$genId/$kind")
    }
    // Row stamps for the rewritten state — the same footer sweep also
    // yields the occupied set: manifest entries list only buckets that
    // EXIST on disk (partitionBy emits no dir for an empty bucket, and
    // readers existence-check every entry); ≤ newBuckets ints, driver-safe.
    val segRows = footerRowsByBucket(spark, s"$stateDir/batch=$genId/segments")
    val seenRows = footerRowsByBucket(spark, s"$stateDir/batch=$genId/seen")
    val occupied = (segRows.keySet ++ seenRows.keySet).toSeq.sorted
    // txn and appId carry forward: maintenance applies no streaming batch.
    writeManifest(spark, stateDir, genId,
      Scd2Manifest(newBuckets, m.txn, occupied.map(_ -> genId).toMap,
        m.appId, segRows, seenRows)) // commit
    pruneScd2(spark, stateDir, genId, Some(prevId))
  }

  /** Per-generation bucket→holder map for the bucketed SCD2 state. The
    * manifest file is the generation's commit marker: a `batch=<id>`
    * directory without one is a partial write from a crashed commit and is
    * invisible to readers and to the next merge. `txn` is the last
    * STREAMING batch id applied — generation ids advance on every commit
    * (ingest or maintenance) while txn advances only on ingest, which is
    * what lets `rebucketScd2` commit between ingests without looking like
    * a checkpoint reset to the split-brain guard. `appId` is the query id
    * of the checkpoint that produced the state (`checkpointQueryId`).
    * `segRows`/`seenRows` carry the ACTUAL parquet row count per bucket
    * (from the footers of the files the committing write produced), so the
    * next landing sizes its bucket-aligned write from a manifest lookup
    * instead of launching two footer-count Spark jobs per landing — the
    * residual full-touch overhead the r16 probe measured. `readManifest`
    * requires every field and a stamp for every `entries` key.
    */
  private[graft] final case class Scd2Manifest(buckets: Int, txn: Long,
                                               entries: Map[Int, Long],
                                               appId: String,
                                               segRows: Map[Int, Long],
                                               seenRows: Map[Int, Long])

  private def manifestFile(stateDir: String, id: Long) =
    new org.apache.hadoop.fs.Path(s"$stateDir/batch=$id/manifest.json")

  private def readJson(spark: SparkSession, p: org.apache.hadoop.fs.Path) = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val bytes = try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
    finally in.close()
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
  }

  /** The streaming query id from the checkpoint's `metadata` file — the
    * Delta-txn `appId` analog. Spark writes it at query start and
    * REGENERATES it when the checkpoint is reset, so an equal-txn replay
    * carrying a different id proves the "replayed" batch is not the one
    * the manifest committed (a reset re-delivers ALL source files as batch
    * 0, which txn alone cannot distinguish from crash recovery when only
    * one generation was ever committed). The file exists before the first
    * batch runs, so a missing file or id fails the batch.
    */
  private def checkpointQueryId(spark: SparkSession,
                                checkpointDir: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$checkpointDir/metadata")
    Option(readJson(spark, p).get("id")).map(_.asText).getOrElse(
      throw new IllegalStateException(
        s"scd2Ingest: checkpoint metadata $p holds no query id"))
  }

  private[graft] def manifestIds(spark: SparkSession, stateDir: String): Seq[Long] = {
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Landings.batchIds(spark, stateDir).filter(id => fs.exists(manifestFile(stateDir, id)))
  }

  /** Generation `id`'s manifest. One missing a field, or whose row stamps
    * miss an `entries` bucket, fails naming the file.
    */
  private[graft] def readManifest(spark: SparkSession, stateDir: String,
                                  id: Long): Scd2Manifest = {
    val p = manifestFile(stateDir, id)
    val node = readJson(spark, p)
    def unreadable(why: String) = new IllegalStateException(
      s"scd2 manifest $p $why; delete the state dir and its checkpoint " +
        "and ingest again")
    def field(name: String) = Option(node.get(name))
      .getOrElse(throw unreadable(s"has no '$name' field"))
    import scala.jdk.CollectionConverters._
    def intMap(name: String): Map[Int, Long] = field(name).properties().asScala
      .map(e => e.getKey.toInt -> e.getValue.asLong()).toMap
    val m = Scd2Manifest(field("buckets").asInt(), field("txn").asLong(),
      intMap("entries"), field("appId").asText(), intMap("segRows"),
      intMap("seenRows"))
    for ((name, rows) <- Seq("segRows" -> m.segRows, "seenRows" -> m.seenRows)) {
      val unstamped = m.entries.keySet -- rows.keySet
      if (unstamped.nonEmpty) throw unreadable(
        s"has no $name stamp for bucket(s) ${unstamped.toSeq.sorted.mkString(",")}")
    }
    m
  }

  /** Commits generation `id`: the JSON goes to a sibling temp file that is
    * then renamed onto `manifest.json`, so a crash mid-write leaves no
    * truncated commit point (`manifestIds` sees only the final name).
    */
  private def writeManifest(spark: SparkSession, stateDir: String, id: Long,
                            m: Scd2Manifest): Unit = {
    val p = manifestFile(stateDir, id)
    val tmp = p.suffix(".tmp")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def intMap(m: Map[Int, Long]): String = m.toSeq.sorted
      .map { case (b, v) => s""""$b":$v""" }.mkString("{", ",", "}")
    val out = fs.create(tmp, true)
    try out.write(
      (s"""{"buckets":${m.buckets},"txn":${m.txn},"appId":"${m.appId}",""" +
        s""""segRows":${intMap(m.segRows)},"seenRows":${intMap(m.seenRows)},""" +
        s""""entries":${intMap(m.entries)}}""")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, p)) throw new IllegalStateException(
      s"scd2: could not commit manifest $p (rename from $tmp failed)")
  }

  /** Row stamps for a NEW manifest: the buckets this commit wrote, from the
    * footers of the files under `batch=<genId>/<kind>`, plus the previous
    * stamp of every carried bucket.
    */
  private def stampRowsFor(spark: SparkSession, stateDir: String,
      genId: Long, kind: String, entries: Map[Int, Long],
      prevRows: Map[Int, Long]): Map[Int, Long] = {
    val fresh = footerRowsByBucket(spark, s"$stateDir/batch=$genId/$kind")
    fresh ++ entries.keysIterator.filterNot(fresh.contains).map(b => b -> prevRows(b))
  }

  /** Parquet row counts per `bucket=<b>` subdir of one state kind dir —
    * driver-side footer reads (a handful of bytes per file; the aligned
    * write keeps files-per-bucket O(1)), parallel across files so a
    * full-touch landing's sweep is bounded by the pool, not file count.
    * This is what the manifest's row stamps are computed from at commit:
    * per-landing it replaces a Spark count JOB (scheduler latency + task
    * launch per landing) with direct footer IO on the driver.
    */
  private def footerRowsByBucket(spark: SparkSession,
                                 kindDir: String): Map[Int, Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(kindDir)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return Map.empty
    val files = fs.listStatus(root).toSeq
      .filter(_.getPath.getName.startsWith("bucket="))
      .flatMap { bd =>
        val b = bd.getPath.getName.stripPrefix("bucket=").toInt
        fs.listStatus(bd.getPath).toSeq
          .filter(st => st.getPath.getName.endsWith(".parquet"))
          .map(b -> _)
      }
    if (files.isEmpty) return Map.empty
    val pool = java.util.concurrent.Executors
      .newFixedThreadPool(math.min(16, files.size))
    try {
      val futs = files.map { case (b, st) =>
        b -> pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            val in = org.apache.parquet.hadoop.util.HadoopInputFile
              .fromStatus(st, conf)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try r.getRecordCount finally r.close()
          }
        })
      }
      futs.groupMapReduce(_._1)(_._2.get())(_ + _)
    } finally pool.shutdown()
  }

  /** Prune for the bucketed SCD2 state: keep the just-committed batch, the
    * previous generation (the fallback a re-executed batch rebuilds
    * against), and — at bucket granularity — every `bucket=<b>` directory
    * either of those two manifests still references. Whole batch dirs with
    * no referenced bucket are removed; partially superseded dirs lose only
    * their dead bucket subdirs. Same single-writer assumption as
    * `pruneSuperseded`.
    */
  private def pruneScd2(spark: SparkSession, stateDir: String,
                        batchId: Long, prevId: Option[Long]): Unit = {
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live: Set[(Long, Int)] =
      (Seq(batchId) ++ prevId).flatMap { id =>
        // .toSeq BEFORE the key swap: mapping the Map directly would keep
        // only ONE (mid, bucket) pair per holder id (Map key collision) —
        // and prune every other live bucket of that generation.
        readManifest(spark, stateDir, id).entries.toSeq
          .map { case (b, mid) => (mid, b) }
      }.toSet
    Landings.batchIds(spark, stateDir).filter(_ < batchId).foreach { id =>
      val dirLive = live.exists(_._1 == id)
      if (!dirLive && !prevId.contains(id))
        fs.delete(new org.apache.hadoop.fs.Path(s"$stateDir/batch=$id"), true)
      else for (kind <- Seq("segments", "seen")) {
        val kdir = new org.apache.hadoop.fs.Path(s"$stateDir/batch=$id/$kind")
        if (fs.exists(kdir)) fs.listStatus(kdir).foreach { st =>
          val n = st.getPath.getName
          if (n.startsWith("bucket=") &&
              !live((id, n.stripPrefix("bucket=").toInt)))
            fs.delete(st.getPath, true)
        }
      }
    }
  }

  /** Streaming exact deduplication — the streaming twin of the batch d1
    * pass: digest the dedup key columns to one sha-256 key, then
    * `dropDuplicatesWithinWatermark` keeps the first arrival per key. The
    * watermark is what makes exact dedup feasible on an unbounded stream:
    * state for keys older than the delay is evicted, so dedup state is
    * bounded by the churn inside the watermark horizon instead of growing
    * with the whole history (at ingest scale, pair this with an upstream
    * daily partition so re-delivered late files stay inside the horizon).
    *
    * `horizon` IS the state-sizing knob: live state ≈ arrival rate ×
    * horizon (`Probe stream` records the state-vs-horizon ladder in
    * SCALE.md) and also the dedup guarantee's reach — a duplicate arriving
    * more than `horizon` of event time late is NOT deduplicated. Size it
    * to the upstream's worst re-delivery lag, then provision state memory
    * from the measured curve.
    */
  def dedupStream(events: DataFrame, horizon: String = "1 hour"): DataFrame =
    withEventTime(events)
      // concat_ws SKIPS nulls, so a bare column digest would collide rows
      // whose keys differ only in null placement ((1, null, "x") vs
      // (1, "x", null)) and dedup would silently drop real data; coalesce
      // each key to a NUL sentinel first.
      .withColumn("digest", sha2(concat_ws("|",
        coalesce(col("user_id").cast("string"), lit("\u0000")),
        coalesce(col("event_type"), lit("\u0000")),
        coalesce(col("props"), lit("\u0000"))), 256))
      .withWatermark("event_time", horizon)
      .dropDuplicatesWithinWatermark("digest")

  final case class UserEvent(user_id: Long, value: Double)
  final case class UserTotal(user_id: Long, n_events: Long, total_value: Double)

  final case class TimedEvent(user_id: Long, tus: Long, value: Double)
  final case class Session(user_id: Long, start_us: Long, end_us: Long,
                           n_events: Long, session_value: Double)
  final case class SessionState(openStart: Long, openEnd: Long,
                                n: Long, total: Double)

  /** Gap-based sessionization via flatMapGroupsWithState — the custom-state
    * form of session windows (use when per-session logic outgrows
    * `session_window`, e.g. value-dependent gap rules). Emits every closed
    * session as soon as a later event proves the gap; the still-open
    * session stays in state. With an AvailableNow run over a static table
    * the batch iterator arrives time-ordered per group after an explicit
    * sort; in production the watermark bounds state and a timeout would
    * flush open sessions.
    */
  def sessionizeCustom(spark: SparkSession, events: DataFrame,
                       gapUs: Long = 1800L * 1000000L): Dataset[Session] = {
    import spark.implicits._
    events.select(col("user_id"), graft.Tables.eventTimeUs(events).as("tus"),
        col("value")).as[TimedEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[TimedEvent], state: GroupState[SessionState]) =>
          val sorted = rows.toSeq.sortBy(_.tus)
          var st = state.getOption.orNull
          val closed = Seq.newBuilder[Session]
          sorted.foreach { e =>
            st match {
              case null =>
                st = SessionState(e.tus, e.tus, 1L, e.value)
              case s if e.tus - s.openEnd > gapUs =>
                closed += Session(user, s.openStart, s.openEnd, s.n, s.total)
                st = SessionState(e.tus, e.tus, 1L, e.value)
              case s =>
                st = SessionState(s.openStart, e.tus, s.n + 1, s.total + e.value)
            }
          }
          if (st != null) state.update(st)
          closed.result().iterator
      }
  }

  /** Custom keyed state via mapGroupsWithState: a running per-user
    * (count, sum) — the minimal template for bespoke streaming state that
    * session_window/window can't express.
    */
  def runningUserTotals(spark: SparkSession, events: DataFrame): Dataset[UserTotal] = {
    import spark.implicits._
    events.select(col("user_id"), col("value")).as[UserEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState[(Long, Double), UserTotal](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[UserEvent], state: GroupState[(Long, Double)]) =>
          val (n0, s0) = state.getOption.getOrElse((0L, 0.0))
          var n = n0; var s = s0
          rows.foreach { e => n += 1; s += e.value }
          state.update((n, s))
          UserTotal(user, n, s)
      }
  }
}
