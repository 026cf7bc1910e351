package graft.warehouse

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Relational

/** Fact-table build — the warehouse's most complex dataflow (reference:
  * etl/load/load_fact.py:143-408). Seven stages: incident-type key
  * derivation, four dimension joins (broadcast — every dim is tiny next to
  * the fact), the ±12 h nearest-air-quality band join, and schema-enforced
  * finalization into a partitioned catalog table ([[Relational.clustered]]).
  *
  * The band join uses Relational.nearestWithinBand with the *intended*
  * `floor(epoch/B)` bucketing on both sides (the reference's dim side
  * computes `floor(epoch)/B` — a float bucket that only aligns on exact
  * multiples; SURVEY §2.4 J6 documents the divergence), and a deterministic
  * AirQualityKey tie-break where the reference's row_number over
  * TimeDifference alone is tie-unstable.
  *
  * A [[FactLoad.Plan]] argument selects the sliced build and its optional
  * in-place compaction; the default plan is the single-shot build. Every
  * state a crashed compaction can leave behind is read and healed (or
  * refused) by one function, `sweepResidue`.
  */
object FactLoad {

  /** How a fact load runs. `slices = 1` (the default) is the plan every
    * gate measures. `slices = k > 1` is the sliced fact build:
    * pmod(xxhash64(IncidentNumber), k) partitions the fact rows into k
    * disjoint slices, each run through the SAME seven-stage join plan and
    * the same clustered write (append per slice). Rows are
    * join-independent (dims broadcast; the band join is per-incident), so
    * the union is exactly the unsliced result (spec-pinned). This is the
    * chunked-backfill shape for a corpus whose single-shot shuffle scratch
    * exceeds the disk: peak becomes max-over-slices instead of
    * whole-corpus — the price is re-scanning the cleansed input k times
    * (pushed projection, cheap next to the joins) and k range-clustered
    * file sets per station dir instead of one (like k compactions
    * pending). A sliced load also deletes each consumed artifact when its
    * last reader finishes (cleansed input after staging; each staging
    * slice after its append) — the measured consumed-artifact lifecycle of
    * the 500M/1B rungs; the emptied staging root goes after the last
    * append. `compact` folds the k file sets back into one after the load
    * ([[compactInPlace]]); slices = 1 already writes that single cluster
    * set, so compact needs slices >= 2.
    */
  final case class Plan(slices: Int = 1, compact: Boolean = false) {
    require(slices >= 1, s"fact plan: slices must be >= 1, got $slices")
    require(!compact || slices >= 2,
      s"fact plan: compact needs slices >= 2, got slices=$slices")
  }

  /** Free scratch the in-place compaction demands, as a multiple of the
    * table's bytes (see [[compactInPlace]]). */
  val MinFreeFactor = 4.0

  def run(spark: SparkSession, lfbCleanPath: String, locationTypeTable: String,
          wardTable: String, aqCleanPath: String, weatherCleanPath: String,
          wbDimPath: String, outputTable: String, plan: Plan = Plan()): Unit = {
    val slices = plan.slices
    // Fail fast on a missing cleansed input BEFORE any staging work (and
    // before anything else gets deleted): a COMPLETED sliced load deletes
    // lfbCleanPath, so a --from re-entry at "fact load" over that state
    // would otherwise surface as an opaque AnalysisException mid-stage —
    // name the contract instead.
    val cleanP = new org.apache.hadoop.fs.Path(lfbCleanPath)
    if (!cleanP.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(cleanP))
      throw new IllegalStateException(
        s"fact load: cleansed input $lfbCleanPath does not exist." +
          (if (slices > 1)
            s" A sliced load (slices=$slices) prunes its consumed input: it" +
              " DELETES it when the fact staging commits, so a completed (or" +
              " crashed-mid-write) sliced run cannot be re-entered at or after" +
              " 'fact load' — re-run from 'cleanse' (or regenerate the corpus) instead."
          else " Run the cleanse stage first (Pipeline.run fromStage <= 'cleanse')."))
    // Fail fast on a pinned compaction backup BEFORE the k-slice reload:
    // the compaction's own sweep refuses this state anyway, but only after
    // this run has re-staged and re-appended the whole corpus — wasted
    // full-load work at the 1B rung.
    if (plan.compact && spark.catalog.tableExists(outputTable))
      sweepResidue(spark, outputTable, BeforeStaging)
    val stagingRoot = s"${new org.apache.hadoop.fs.Path(lfbCleanPath).getParent}" +
      "/fact-staging.parquet"
    val stagedPaths =
      if (slices == 1)
        Seq(buildJoined(spark, lfbCleanPath, locationTypeTable, wardTable,
          aqCleanPath, weatherCleanPath, wbDimPath, stagingRoot, None))
      else (0 until slices).map { s =>
        val p = buildJoined(spark, lfbCleanPath, locationTypeTable, wardTable,
          aqCleanPath, weatherCleanPath, wbDimPath,
          s"$stagingRoot/slice-$s", Some((s, slices)))
        // Phase boundary per slice: reclaim this slice's join shuffles
        // before the next slice claims its own (see the comment below).
        System.gc()
        p
      }
    if (slices > 1) rmDir(spark, lfbCleanPath)
    // Phase boundary: the join phase's shuffle files (the band-join result's
    // wide sort-merge join-back is ~a compressed copy of the whole corpus)
    // are dead once the staging parquet is committed, but Spark only
    // reclaims a shuffle when its ShuffleDependency is GC'd — and on a
    // minutes-long single-action build the default periodic GC (30 min)
    // never fires. One explicit GC here (the same mechanism
    // spark.cleaner.periodicGC uses) hands the scratch disk back before the
    // write phase's range shuffle claims its own corpus-sized footprint.
    // Measured: without the boundary the two wide shuffles coexist and a
    // 150M-row build filled a 72 GB scratch disk (SCALE.md round 15).
    System.gc()
    writeClustered(spark, stagedPaths, outputTable)
    if (slices > 1) rmDir(spark, stagingRoot)

    // Optional post-load compaction: a k-sliced load lands k
    // range-clustered file sets per station dir (like k pending
    // compactions); this folds them back into the canonical single cluster
    // set — the explicit OPTIMIZE ZORDER the reference runs after its own
    // write (load_fact.py:403-405), priced at 0.75 s/M over the 300M rung
    // (SCALE.md r18, `Probe compact`: point-lookup locality 4.03 → 1.03
    // files). A non-compacting load just rebuilt the table from fresh
    // staging, so a crashed compacting run's residue is dead weight.
    if (plan.compact) compactInPlace(spark, outputTable)
    else sweepResidue(spark, outputTable, AfterRebuild)

    // K6: surface the loaded table's metadata, the parquet stand-in for the
    // reference's Delta `DESCRIBE DETAIL` (load_fact.py:408; SURVEY §2.2).
    val detail = spark.sql(s"DESCRIBE EXTENDED $outputTable").collect()
    require(detail.nonEmpty, s"DESCRIBE EXTENDED $outputTable returned no rows")
  }

  private def rmDir(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    ()
  }

  /** Phase 1 — stages 1-7 (key derivation, dim joins, band join, schema
    * finalization), materialized to `<staging>/fact-staging.parquet`.
    * The staging boundary is load-bearing at scale, not a convenience:
    * (a) scratch-disk peak becomes max(join shuffle, write shuffle)
    * instead of their sum — within one action both live until the action
    * ends; (b) the clustered write's range partitioning samples its
    * child, so over staged parquet the sample job is a cheap column
    * scan instead of a second execution of the 6-join plan. Note `run()`
    * always rebuilds the staging parquet — it cannot know whether an
    * existing one is stale against its inputs, so the artifact is a
    * disk-footprint and sampling-cost boundary, not an automatic resume
    * point (stage-granular resume stays Pipeline.run(fromStage)'s job).
    */
  private def buildJoined(spark: SparkSession, lfbCleanPath: String,
          locationTypeTable: String, wardTable: String, aqCleanPath: String,
          weatherCleanPath: String, wbDimPath: String, stagedPath: String,
          slice: Option[(Int, Int)]): String = {

    val lfbAll = spark.read.parquet(lfbCleanPath)
      .select(Model.factStage1Columns.distinct.map(col): _*)
    // Slice filter on the PK hash: disjoint, exhaustive, deterministic.
    val lfb0 = slice.fold(lfbAll) { case (s, k) =>
      lfbAll.where(pmod(xxhash64(col("IncidentNumber")), lit(k.toLong)) === s.toLong)
    }
    // Normalize TimeOfCall to an "HH:mm:ss" string whatever the ingest
    // inferred (CSV inference may type bare times as timestamps; the
    // reference's unconditional date_format nulls genuine strings).
    val timeStr = lfb0.schema("TimeOfCall").dataType match {
      case org.apache.spark.sql.types.TimestampType =>
        date_format(col("TimeOfCall"), "HH:mm:ss")
      case _ => col("TimeOfCall").cast("string")
    }
    val lfb = lfb0.withColumn("TimeOfCall", timeStr)

    // STAGE 1 — incident type key with Unknown override (load_fact.py:158-171)
    val withIncident = Jobs.deriveIncidentTypeKey(lfb)
      .withColumn("IncidentTypeKey",
        when(col("IncidentType") === "Unknown" &&
          col("IncidentDescription") === "Unknown incident type", lit("Unknown"))
          .otherwise(col("IncidentTypeKey")))
      .drop("IncidentGroup", "StopCodeDescription", "SpecialServiceType",
        "IncidentType", "IncidentDescription")

    // STAGE 2 — location type (load_fact.py:173-189)
    val withLocation = withIncident
      .join(broadcast(spark.table(locationTypeTable)), Seq("PropertyType"), "left")
      .withColumn("LocationTypeKey", coalesce(col("LocationTypeKey"), lit("Unknown")))
      .drop("PropertyType", "PropertyCategory")

    // STAGE 3 — ward (load_fact.py:191-208)
    val withWard = withLocation
      .withColumnRenamed("IncGeo_WardCode", "WardCode")
      .join(broadcast(spark.table(wardTable)), Seq("WardCode"), "left")
      .withColumn("WardID", coalesce(col("WardID"), lit("Unknown")))
      .drop("WardName", "BoroughName", "BoroughCode")

    // STAGE 4 — nearest air-quality reading within ±12 h (load_fact.py:210-298)
    // try_to_timestamp: unparseable call times degrade to "no AQ match"
    // instead of failing the job under ANSI mode.
    val probes = withWard.select(col("IncidentNumber"),
      unix_seconds(expr(
        "try_to_timestamp(concat(DateOfCall, ' ', TimeOfCall), 'yyyy-MM-dd HH:mm:ss')"))
        .as("CallUnixEpoch"))
      .where(col("CallUnixEpoch").isNotNull)
    val readings = spark.read.parquet(aqCleanPath)
      .select(col("AirQualityKey"), unix_seconds(col("ReadingDateTime")).as("ReadingUnixEpoch"))
      .where(col("ReadingUnixEpoch").isNotNull)
    val aqPairs = Relational.nearestWithinBand(
        probes, "IncidentNumber", "CallUnixEpoch",
        readings, "ReadingUnixEpoch", Model.bucketSizeSeconds, "AirQualityKey")
      .select("IncidentNumber", "AirQualityKey")
    val withAq = withWard.join(aqPairs, Seq("IncidentNumber"), "left")
      .withColumn("AirQualityKey", coalesce(col("AirQualityKey"), lit("Unknown")))

    // STAGE 5 — weather by call date (load_fact.py:300-316)
    val weather = spark.read.parquet(weatherCleanPath)
      .select(col("date").as("DateOfCall"), col("WeatherKey"))
    val withWeather = withAq.join(broadcast(weather), Seq("DateOfCall"), "left")
      .withColumn("WeatherKey", coalesce(col("WeatherKey"), lit("Unknown")))

    // STAGE 6 — well-being by (ward, year) (load_fact.py:318-339)
    val wellBeing = spark.read.parquet(wbDimPath)
      .select(col("WardCode"), col("Year").as("YearOfCall"), col("WellBeingID"))
    val withWb = withWeather.withColumn("YearOfCall", year(col("DateOfCall")))
      .join(broadcast(wellBeing), Seq("WardCode", "YearOfCall"), "left")
      .withColumn("WellBeingID", coalesce(col("WellBeingID"), lit("Unknown")))

    // STAGE 7 — finalize: defaults, derived CostPerCall, declared schema
    // order/types via explicit projection (load_fact.py:341-387)
    val renamed = withWb
      .drop("WardCode", "YearOfCall", "IncGeo_WardName",
        "SecondPumpArriving_AttendanceTime", "SecondPumpArriving_DeployedFromStation")
      .withColumnsRenamed(Map(
        "FirstPumpArriving_AttendanceTime" -> "FirstPumpAttendanceTime",
        "FirstPumpArriving_DeployedFromStation" -> "FirstPumpStation",
        "Notional Cost (£)" -> "NotionalCost",
        "NumStationsWithPumpsAttending" -> "StationsWithPumpsAttending",
        "NumPumpsAttending" -> "PumpsAttending",
        "PumpMinutesRounded" -> "PumpMinutes"))
      .withColumn("IncidentStationGround", coalesce(col("IncidentStationGround"), lit("Unknown")))
      .withColumn("StationsWithPumpsAttending", coalesce(col("StationsWithPumpsAttending"), lit(0)))
      .withColumn("PumpsAttending", coalesce(col("PumpsAttending"), lit(0)))
      .withColumn("PumpMinutes", coalesce(col("PumpMinutes"), lit(0)))
      .withColumn("NotionalCost", coalesce(col("NotionalCost"), lit(0)))
      .withColumn("NumCalls", coalesce(col("NumCalls"), lit(1)))
      .withColumn("CostPerCall",
        when(col("NumCalls") > 0, (col("NotionalCost") / col("NumCalls")).cast("int"))
          .otherwise(lit(0)))

    val finalDf = renamed.select(Model.factSchema.fields.map(f =>
      col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)

    finalDf.write.mode("overwrite").parquet(stagedPath)
    stagedPath
  }

  /** Phase 2 — the [[Relational.clustered]] catalog write over the staged
    * joined fact: partitioned by station, clustered by (date, cost). One
    * write job per staging path (one per slice in sliced mode — overwrite
    * first, append after, so the table is the exact union). Each job's
    * partition count is row-sized (the measured ~250k wide-rows-per-task
    * spill cliff, SCALE.md r14) — over staged parquet a footer read.
    */
  private def writeClustered(spark: SparkSession, stagedPaths: Seq[String],
                             outputTable: String): Unit = {
    Relational.prepareManagedOverwrite(spark, outputTable)
    stagedPaths.zipWithIndex.foreach { case (path, i) =>
      val staged = spark.read.parquet(path)
      Relational.clustered(staged, Some("IncidentStationGround"),
          Seq("DateOfCall", "NotionalCost"), Relational.rowSizedPartitions(staged.count()))
        .write.mode(if (i == 0) "overwrite" else "append").format("parquet")
        .partitionBy("IncidentStationGround").saveAsTable(outputTable)
      if (stagedPaths.size > 1) {
        // consumed-artifact lifecycle + per-slice shuffle reclaim (the
        // same phase-boundary GC the unsliced plan runs once)
        rmDir(spark, path)
        System.gc()
      }
    }
  }

  // private[warehouse] so PipelineSpec plants crash residue at the REAL
  // suffixes instead of duplicating the string literals.
  private[warehouse] def compactPaths(spark: SparkSession, table: String):
      (org.apache.hadoop.fs.Path, org.apache.hadoop.fs.Path,
       org.apache.hadoop.fs.Path, org.apache.hadoop.fs.FileSystem) = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))
    val loc = new org.apache.hadoop.fs.Path(meta.location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (loc,
      new org.apache.hadoop.fs.Path(loc.getParent, loc.getName + ".compact-tmp"),
      new org.apache.hadoop.fs.Path(loc.getParent, loc.getName + ".pre-compact"),
      fs)
  }

  /** Marker dropped next to the backup when the post-swap row-count
    * validation fails: `bak && loc` is exactly the state
    * [[sweepResidue]] reads as "cleanup died — live dir authoritative,
    * drop the backup", so without it a blind re-run after a count-drift
    * abort would delete the only good copy. While the marker exists no
    * sweep touches the backup and a compacting run demands an explicit
    * operator restore. */
  private[warehouse] def compactInvalidMarker(
      loc: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(loc.getParent, loc.getName + ".compact-invalid")

  /** Where a load runs [[sweepResidue]]: before a compacting load's
    * staging (refuse a pinned backup, change nothing), after a
    * non-compacting rebuild (keep it), at the head of [[compactInPlace]]
    * (refuse it). */
  private sealed trait SweepPoint
  private case object BeforeStaging extends SweepPoint
  private case object AfterRebuild extends SweepPoint
  private case object BeforeCompact extends SweepPoint

  /** The one reader of compaction residue beside the live dir `loc` (the
    * `.compact-tmp` copy, the `.pre-compact` backup, the
    * `.compact-invalid` marker) and the whole state table it acts on. The
    * backup exists ONLY between the swap's rename(loc -> bak) and the
    * post-validation backup delete, and tmp was complete before that
    * first rename, so the on-disk state decides:
    *  - marker && bak: a count-drift abort pinned the only good copy. A
    *    compacting run refuses; a non-compacting rebuild made the live
    *    table authoritative again but keeps the backup the abort message
    *    promised to keep, with a warning.
    *  - marker && !bak: stale (the operator restored the backup but left
    *    the marker) — dropped.
    *  - bak && !loc: the swap died between its renames — finish it
    *    (tmp -> loc). Only a direct compact of a crashed run's table gets
    *    here; inside a load the rebuild has just rewritten loc.
    *  - bak && loc: the swap (or a later rebuild) landed and only the
    *    cleanup died — the live dir is authoritative, the backup dropped.
    *  - tmp: a partial or superseded rewrite — dropped.
    * A moved or dropped backup re-syncs the catalog (the crashed run may
    * have died before its own re-sync). Returns true when it finished a
    * crashed swap: loc then holds the compacted layout.
    */
  private def sweepResidue(spark: SparkSession, table: String, at: SweepPoint): Boolean = {
    val (loc, tmp, bak, fs) = compactPaths(spark, table)
    val marker = compactInvalidMarker(loc)
    val (hasLoc, hasTmp, hasBak, hasMarker) =
      (fs.exists(loc), fs.exists(tmp), fs.exists(bak), fs.exists(marker))
    val pinned = hasMarker && hasBak
    require(!pinned || at == AfterRebuild,
      s"fact compact: $marker marks the live $loc as a count-drifted compact " +
        s"rewrite and the backup $bak is the only adjudicated-good copy — a " +
        "compacting run will not drop it while the marker exists. Either " +
        s"restore $bak over $loc and delete the marker, or verify the current " +
        "table (a load rebuilds it from fresh staging) and delete marker + " +
        "backup, then re-run")
    if (at == BeforeStaging) return false
    if (hasMarker && !hasBak) {
      log.warn(s"fact compact: dropping stale marker $marker (no backup present)")
      fs.delete(marker, false)
    }
    val finishSwap = hasBak && !hasLoc && !pinned
    if (pinned)
      log.warn(s"fact compact: KEEPING $bak — $marker marks it as the good " +
        s"copy of a count-drifted rewrite. $table was just rebuilt from fresh " +
        "staging, so the live table is authoritative again; once verified, " +
        "delete the marker and the backup (or restore the backup first if " +
        "staging was wrong)")
    else if (finishSwap) {
      require(hasTmp, s"fact compact: a crashed swap left $bak but neither " +
        s"$loc nor $tmp — restore $bak to $loc manually")
      require(fs.rename(tmp, loc), s"fact compact: recovery rename $tmp -> $loc failed")
      fs.delete(bak, true)
      resync(spark, table)
      log.warn(s"fact compact: completed a crashed swap for $table ($tmp -> $loc)")
    } else if (hasBak) {
      log.warn(s"fact compact: dropping stale backup $bak (live table present)")
      fs.delete(bak, true)
      resync(spark, table)
    }
    if (hasTmp && !finishSwap) {
      log.warn(s"fact compact: deleting stale compaction copy $tmp")
      fs.delete(tmp, true)
    }
    finishSwap
  }

  /** Re-sync the catalog's partitions and cached file listing after the
    * live dir was swapped under an unchanged catalog entry. */
  private def resync(spark: SparkSession, table: String): Unit = {
    spark.sql(s"MSCK REPAIR TABLE $table SYNC PARTITIONS")
    spark.sql(s"REFRESH TABLE $table")
  }

  /** Rewrite `table` once into the canonical [[Relational.clustered]]
    * layout (`Relational.compactClustered`) and swap it in place. The
    * swap is two renames around the fresh copy — old → `.pre-compact`,
    * fresh → live — so a COMPLETE data set exists on disk at every
    * instant, though not necessarily at the live location: a crash
    * between the renames leaves it at `.pre-compact`/`.compact-tmp`, and
    * [[sweepResidue]] (run first here, or after the next load's rebuild)
    * heals that state deterministically rather than requiring manual
    * surgery. Scratch peak is 2× the table for the rewrite's duration —
    * the same src+dst the rewrite itself needs, so the backup adds no new
    * high-water mark. The catalog entry is untouched (same managed
    * location, same partition values); [[resync]] points metadata and the
    * cached file listing at the swapped files. The backup is deleted only
    * after the post-swap row-count validation passes — on a count drift
    * the require fires with the backup still on disk, so restoration is a
    * rename, not a rebuild.
    *
    * Returns whether the table now holds a fresh single cluster set:
    * true after the rewrite or after finishing a crashed swap, false when
    * the scratch guard skipped the pass.
    */
  private[warehouse] def compactInPlace(spark: SparkSession, table: String,
                                        minFreeFactor: Double = MinFreeFactor): Boolean = {
    // The recovered tmp IS the finished compacted layout — re-running the
    // rewrite on it would be a full redundant table copy.
    if (sweepResidue(spark, table, BeforeCompact)) return true
    val (loc, tmp, bak, fs) = compactPaths(spark, table)
    val marker = compactInvalidMarker(loc)
    // Scratch guard (estimate the need, refuse LOUDLY when it does not
    // fit, run the correct fallback): before the swap frees the old copy the
    // rewrite holds the tmp copy (~1× table, on the TABLE's filesystem)
    // plus the range shuffle's sort-spill (~2.8× — spill is wider than
    // the parquet it re-sorts; lands in spark.local.dir/java.io.tmpdir,
    // NOT necessarily the table's disk) — measured 3.8× table bytes
    // total at the 500M rung (SCALE.md r18: 41 GB transient on a 10.8 GB
    // table), so the default demands 4× of the MINIMUM free across the
    // table's partition and every spill dir's partition. On a one-disk
    // box that's one number (the measured case); split disks make the
    // bound conservative. Compaction is OPTIONAL layout work — the
    // k-sliced table is correct, just k-cluster-set — so insufficient
    // scratch skips the pass and keeps the load green instead of dying
    // on ENOSPC mid-write.
    val tableBytes = fs.getContentSummary(loc).getLength
    val need = (tableBytes * minFreeFactor).toLong
    val free = (fs.getStatus(loc).getRemaining +:
      Relational.spillDirs(spark).map(_.getUsableSpace)).min
    if (free < need) {
      log.warn(f"fact compact: SKIPPED for $table — min scratch over the " +
        f"table + spill partitions ${free / 1e9}%.1f GB free < $minFreeFactor x " +
        f"table ${tableBytes / 1e9}%.1f GB = ${need / 1e9}%.1f GB needed " +
        "for the rewrite + swap; the k-sliced layout stays (correct, " +
        "k cluster sets per station dir) — free scratch and re-run")
      return false
    }
    // Read through the CATALOG, not the path: a numeric-looking station
    // set would re-type the string partition column.
    val n = Relational.compactClustered(spark.table(table), tmp.toString,
      "IncidentStationGround", Seq("DateOfCall", "NotionalCost"))
    require(fs.rename(loc, bak), s"fact compact: rename $loc -> $bak failed")
    require(fs.rename(tmp, loc), s"fact compact: rename $tmp -> $loc failed " +
      s"— the pre-compact table is intact at $bak")
    resync(spark, table)
    // Validate BEFORE dropping the backup: the count is read-only, so
    // keeping bak a few seconds longer adds no high-water mark, and if
    // the count drifted the backup is the only recovery copy — deleting
    // it first would contradict the "complete data set at every instant"
    // guarantee this method exists to provide.
    val after = spark.table(table).count()
    if (after != n) {
      // Stamp the marker BEFORE aborting: without it, bak && loc is the
      // state sweepResidue reads as "cleanup died — drop the backup", and
      // a blind re-run would delete the only good copy. A failed marker
      // write is logged but must not mask the drift abort.
      try fs.create(marker, true).close()
      catch { case e: Throwable => log.error(
        s"fact compact: could not stamp $marker — a blind re-run's " +
          s"recovery sweep WILL drop the backup $bak: ${e.getMessage}") }
    }
    require(after == n,
      s"fact compact: row count drifted across the rewrite ($n -> $after) " +
        s"— the pre-compact table is intact at $bak and $marker now blocks " +
        s"the recovery sweep from dropping it; restore $bak over $loc and " +
        "delete the marker before re-running")
    fs.delete(bak, true)
    log.info(s"fact compact: $table re-clustered in place ($n rows, single " +
      "cluster set per station dir)")
    true
  }

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
}
