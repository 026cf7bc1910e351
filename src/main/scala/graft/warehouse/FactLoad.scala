package graft.warehouse

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Relational

/** Fact-table build — the warehouse's most complex dataflow (reference:
  * etl/load/load_fact.py:143-408). Seven stages: incident-type key
  * derivation, four dimension joins (broadcast — every dim is tiny next to
  * the fact), the ±12 h nearest-air-quality band join, and schema-enforced
  * finalization into a partitioned catalog table.
  *
  * The band join uses Relational.nearestWithinBand with the *intended*
  * `floor(epoch/B)` bucketing on both sides (the reference's dim side
  * computes `floor(epoch)/B` — a float bucket that only aligns on exact
  * multiples; SURVEY §2.4 J6 documents the divergence), and a deterministic
  * AirQualityKey tie-break where the reference's row_number over
  * TimeDifference alone is tie-unstable.
  *
  * A [[FactLoad.Plan]] argument selects the sliced build and its optional
  * compaction; the default plan is the single-shot build.
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
    * the 500M/1B rungs. `compact` folds the k file sets back into one
    * after the load ([[compactInPlace]]); slices = 1 already writes that
    * single cluster set, so compact needs slices >= 2.
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
    // Fail fast on a count-drift compact marker BEFORE the k-slice reload:
    // the end-of-load compact sweep refuses this state anyway (the backup
    // is the only adjudicated-good copy), but only after this run has
    // re-staged and re-appended the whole corpus — wasted full-load work
    // at the 1B rung. Same refusal (the sweep's own wording names the
    // marker), surfaced before any staging job runs; the alternative exit
    // is the same as the sweep's — and since this load is about to rebuild
    // the table from fresh staging, verifying the rebuilt table and then
    // clearing marker + backup (README: count-drift recovery) is equally
    // valid, which the message says.
    if (plan.compact && spark.catalog.tableExists(outputTable)) {
      val (loc, _, bak, fs) = compactPaths(spark, outputTable)
      val marker = compactInvalidMarker(loc)
      require(!(fs.exists(marker) && fs.exists(bak)),
        s"fact load: $marker marks the live $loc as a count-drifted compact " +
          s"rewrite and the backup $bak is the only adjudicated-good copy — " +
          "refusing BEFORE the k-slice reload instead of at the post-load " +
          s"compact sweep. Either restore $bak over $loc and delete the " +
          "marker, or verify the current table (this load would rebuild it " +
          "from fresh staging anyway) and delete marker + backup, then re-run")
    }
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
    writeClustered(spark, stagedPaths, outputTable, plan.compact)
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
    * ends; (b) `repartitionByRange` samples its child for range
    * boundaries, so over staged parquet the sample job is a cheap column
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

  /** Phase 2 — the clustered catalog write over the staged joined fact.
    * One write job per staging path (a single path in the default plan;
    * one per slice in sliced mode — overwrite first, append after, so the
    * table is the exact union). Each job's partition count is row-sized
    * independently, so the per-task row budget holds whatever the slicing.
    */
  private def writeClustered(spark: SparkSession, stagedPaths: Seq[String],
                             outputTable: String, compact: Boolean): Unit = {
    Relational.prepareManagedOverwrite(spark, outputTable)
    stagedPaths.zipWithIndex.foreach { case (path, i) =>
      val staged = spark.read.parquet(path)

      // Partition by station ground; cluster files by (DateOfCall,
      // NotionalCost) — the Z-ORDER stand-in (load_fact.py:392-405). The
      // station LEADS the range key: Delta's OPTIMIZE ZORDER clusters
      // WITHIN each partition, and leading with the partition column makes
      // every write task hold a contiguous station slice — one or two open
      // parquet writers per task instead of one per station (the 16-task ×
      // 40-dir writer fan-out was the measured spill term of the 10×
      // fact build, SCALE.md round 14), fewer+bigger files per dir, and the
      // (date, cost) sort surviving intact inside each partition.
      //
      // The partition COUNT is sized by rows, not cores (the measured ~250k
      // wide-rows-per-task spill cliff, SCALE.md round 14); over the staged
      // parquet the count is a footer-metadata read.
      val writePartitions = Relational.rowSizedPartitions(staged.count())
      staged
        .repartitionByRange(writePartitions,
          col("IncidentStationGround"), col("DateOfCall"), col("NotionalCost"))
        .sortWithinPartitions(
          col("IncidentStationGround"), col("DateOfCall"), col("NotionalCost"))
        .write.mode(if (i == 0) "overwrite" else "append").format("parquet")
        .partitionBy("IncidentStationGround").saveAsTable(outputTable)
      if (stagedPaths.size > 1) {
        // consumed-artifact lifecycle + per-slice shuffle reclaim (the
        // same phase-boundary GC the unsliced plan runs once)
        rmDir(spark, path)
        System.gc()
      }
    }

    // Optional post-load compaction (`Plan.compact`): a k-sliced
    // load lands k range-clustered file sets per station dir (like k pending
    // compactions); this folds them back into the canonical single cluster
    // set — the explicit OPTIMIZE ZORDER the reference runs after its own
    // write (load_fact.py:403-405), priced at 0.75 s/M over the 300M rung
    // (SCALE.md r18, `Probe compact`: point-lookup locality 4.03 → 1.03
    // files).
    if (compact) compactInPlace(spark, outputTable)
    else {
      // A crashed compacting run can leave .pre-compact/.compact-tmp
      // siblings; this load just rebuilt the table from fresh staging, so
      // both are dead weight (a full stale table copy each) — reclaim.
      // Exception: a .compact-invalid marker (count-drift abort) pins the
      // backup until an operator adjudicates — even though this rebuild
      // made the live table authoritative again, silently discarding the
      // copy the abort message promised to keep would break that contract.
      val (loc, tmp, bak, fs) = compactPaths(spark, outputTable)
      val marker = compactInvalidMarker(loc)
      if (fs.exists(marker) && !fs.exists(bak)) {
        log.warn(s"fact load: dropping stale marker $marker (no backup present)")
        fs.delete(marker, false)
      }
      Seq(tmp, bak).filter(fs.exists).foreach { p =>
        if (p == bak && fs.exists(marker))
          log.warn(s"fact load: KEEPING $bak — $marker marks it as the " +
            s"good copy of a count-drifted rewrite. $outputTable was just " +
            "rebuilt from fresh staging, so the live table is " +
            "authoritative again; once verified, delete the marker and " +
            "the backup (or restore the backup first if staging was wrong)")
        else {
          log.warn(s"fact load: deleting stale compaction residue $p " +
            s"(table $outputTable was just rebuilt at $loc)")
          fs.delete(p, true)
        }
      }
    }

    // K6: surface the loaded table's metadata, the parquet stand-in for the
    // reference's Delta `DESCRIBE DETAIL` (load_fact.py:408; SURVEY §2.2).
    val detail = spark.sql(s"DESCRIBE EXTENDED $outputTable").collect()
    require(detail.nonEmpty, s"DESCRIBE EXTENDED $outputTable returned no rows")
  }

  /** Rewrite `table` once into the canonical partition-leading cluster
    * layout (`Relational.compactClustered`) and swap it in place. The swap
    * is two renames around the fresh copy — old → `.pre-compact`, fresh →
    * live — so a COMPLETE data set exists on disk at every instant, though
    * not necessarily at the live location: a crash between the renames
    * leaves it at `.pre-compact`/`.compact-tmp`, and the recovery block
    * below (or the next load's residue sweep) heals that state
    * deterministically rather than requiring manual surgery. The backup is
    * deleted only after the live rename lands AND the post-swap row-count
    * validation passes (see below). Scratch peak is
    * 2× the table for the rewrite's duration — the same src+dst the rewrite
    * itself needs, so the backup adds no new high-water mark. The catalog
    * entry is untouched (same managed location, same partition values);
    * `MSCK REPAIR ... SYNC PARTITIONS` + `REFRESH` re-sync metadata and the
    * cached file listing to the swapped files. The backup is deleted only
    * after the post-swap row-count validation passes — on a count drift
    * the require fires with the backup still on disk, so restoration is a
    * rename, not a rebuild.
    */
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
    * validation fails: `bak && loc` is exactly the state the recovery
    * sweep reads as "cleanup died — live dir authoritative, drop the
    * backup", so without it a blind re-run after a count-drift abort
    * would delete the only good copy. While the marker exists the sweep
    * refuses to touch the backup and demands an explicit operator
    * restore. */
  private[warehouse] def compactInvalidMarker(
      loc: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(loc.getParent, loc.getName + ".compact-invalid")

  private[warehouse] def compactInPlace(spark: SparkSession, table: String,
                                        minFreeFactor: Double = MinFreeFactor): Unit = {
    val (loc, tmp, bak, fs) = compactPaths(spark, table)
    // Deterministic recovery from a crashed swap. The backup exists ONLY
    // between rename(loc -> bak) and the backup delete, and the fresh copy
    // was complete before the first rename ran — so the on-disk state
    // decides: bak && !loc = the swap died between its two renames, the
    // tmp copy is the complete fresh table — finish the swap; bak && loc =
    // the swap landed (or a later load rebuilt the table) and only the
    // cleanup died — the live dir is authoritative, drop the backup.
    // A count-drift abort ALSO leaves bak && loc, but stamps the
    // .compact-invalid marker — while it exists this sweep refuses to
    // delete the backup (it is the only good copy) and demands an
    // explicit operator restore.
    // Inside a full FactLoad.run the slice appends above have always just
    // rebuilt loc, so only the bak && loc arm is reachable here; the
    // !loc arm covers a direct compact of a table left by a crashed run.
    val marker = compactInvalidMarker(loc)
    if (fs.exists(marker) && !fs.exists(bak)) {
      // Stale marker: the backup it protected is gone (operator restored
      // it over loc but forgot the marker, per the abort message's
      // recipe). Nothing left to protect — clear it and proceed.
      log.warn(s"fact compact: dropping stale marker $marker (no backup present)")
      fs.delete(marker, false)
    }
    if (fs.exists(bak)) {
      require(!fs.exists(marker),
        s"fact compact: $marker marks the live $loc as a count-drifted " +
          s"rewrite — the backup $bak is the only good copy and this sweep " +
          s"will not drop it while the marker exists. Restore $bak over " +
          s"$loc, delete $marker, then re-run")
      if (!fs.exists(loc)) {
        require(fs.exists(tmp), s"fact compact: a crashed swap left $bak " +
          s"but neither $loc nor $tmp — restore $bak to $loc manually")
        require(fs.rename(tmp, loc),
          s"fact compact: recovery rename $tmp -> $loc failed")
        fs.delete(bak, true)
        spark.sql(s"MSCK REPAIR TABLE $table SYNC PARTITIONS")
        spark.sql(s"REFRESH TABLE $table")
        log.warn(s"fact compact: completed a crashed swap for $table " +
          s"($tmp -> $loc)")
        // The recovered tmp IS the finished compacted layout — re-running
        // the rewrite on it would be a full redundant table copy.
        return
      }
      log.warn(s"fact compact: dropping stale backup $bak (live table present)")
      fs.delete(bak, true)
      spark.sql(s"MSCK REPAIR TABLE $table SYNC PARTITIONS")
      spark.sql(s"REFRESH TABLE $table")
    }
    if (fs.exists(tmp)) fs.delete(tmp, true)
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
      return
    }
    // Read through the CATALOG, not the path: a path read re-infers the
    // partition column's type from the dir names (a numeric-looking
    // station set would re-type the string column), the table read keeps
    // the declared schema.
    val n = Relational.compactClustered(spark.table(table), tmp.toString,
      "IncidentStationGround", Seq("DateOfCall", "NotionalCost"), None)
    require(fs.rename(loc, bak), s"fact compact: rename $loc -> $bak failed")
    require(fs.rename(tmp, loc), s"fact compact: rename $tmp -> $loc failed " +
      s"— the pre-compact table is intact at $bak")
    spark.sql(s"MSCK REPAIR TABLE $table SYNC PARTITIONS")
    spark.sql(s"REFRESH TABLE $table")
    // Validate BEFORE dropping the backup: the count is read-only, so
    // keeping bak a few seconds longer adds no high-water mark, and if
    // the count drifted the backup is the only recovery copy — deleting
    // it first would contradict the "complete data set at every instant"
    // guarantee this method exists to provide.
    val after = spark.table(table).count()
    if (after != n) {
      // Stamp the marker BEFORE aborting: without it, bak && loc is the
      // state the recovery sweep above reads as "cleanup died — drop the
      // backup", and a blind re-run would delete the only good copy. A
      // failed marker write is logged but must not mask the drift abort.
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
  }

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
}
