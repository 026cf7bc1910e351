package graft.warehouse

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import graft.ops.Relational

/** Extract + cleanse + dimension-build jobs of the LFB warehouse, one
  * object per reference script with the same path-in/path-out contract
  * (reference: the etl/extract and etl/transform scripts). Inter-job dataflow is
  * storage-mediated (staging parquet), exactly like the reference's
  * Airflow/Livy pipeline — at cluster scale each job is an independent
  * spark-submit.
  */
object Jobs {

  /** Incremental CSV extract: read with header+inferSchema, optionally
    * parse a date column, then anti-join-append on the key
    * (reference: etl/extract/lfb-extract.py:19-52, aq-extract.py:25-61,
    * wb-extract.py:15-31, weather-extract.py:15-31; J1+K2).
    */
  def extract(spark: SparkSession, inPath: String, outPath: String,
              keys: Seq[String], dateCol: Option[(String, String)] = None): Unit = {
    var df = spark.read.option("header", "true").option("inferSchema", "true").csv(inPath)
    // try_to_date: unparseable dates become null (the reference runs
    // pre-ANSI Spark where to_date nulls malformed input silently).
    dateCol.foreach { case (c, fmt) =>
      df = df.withColumn(c, expr(s"try_to_date($c, '$fmt')"))
    }
    Relational.incrementalAppend(df, keys, outPath)
  }

  def lfbExtract(spark: SparkSession, inPath: String, outPath: String): Unit =
    extract(spark, inPath, outPath, Seq("IncidentNumber"),
      dateCol = Some("DateOfCall" -> "dd-MMM-yy"))

  /** Multi-file AQ extract with a broadcast-hinted anti join
    * (reference: aq-extract.py:25-61; S3+J3).
    */
  def aqExtract(spark: SparkSession, inPaths: Seq[String], outPath: String): Unit = {
    require(inPaths.nonEmpty, "aqExtract: no air-quality input CSVs (aq-*.csv) " +
      s"to extract into $outPath")
    val tmp = graft.ops.InterStage.scratchDir("graft_aq_union_")
    inPaths.map(p => spark.read.option("header", "true").option("inferSchema", "true").csv(p))
      .reduce(_ unionByName _).write.mode("overwrite").parquet(tmp)
    // reuse the incremental path on the unioned staging copy
    Relational.incrementalAppend(spark.read.parquet(tmp),
      Seq("Site", "Species", "ReadingDateTime"), outPath, broadcastExisting = true)
  }

  /** LFB cleanse (reference: etl/transform/lfb-cleanse.py): drop columns,
    * "NULL"->null with explicit re-typing (replaces the reference's CSV
    * re-inference round trip — SURVEY §1.3), null out invalid USRN/lat/lon,
    * initcap ward names, modernize ward codes via the W1 window.
    */
  def lfbCleanse(spark: SparkSession, inPath: String, outPath: String): Unit =
    lfbCleanseDf(spark.read.parquet(inPath))
      .write.mode("overwrite").parquet(outPath)

  /** The cleanse TRANSFORM alone, over an already-typed raw frame — the
    * seam that lets the fact-stage scale driver synthesize the cleansed
    * staging parquet directly from the in-memory generated corpus (no raw
    * CSV or raw parquet ever touching disk), with spec-pinned equality to
    * the CSV -> extract -> cleanse path.
    */
  private[graft] def lfbCleanseDf(raw: DataFrame): DataFrame = {
    var df = raw.drop(Model.lfbColumnsToDrop: _*)
    val stringCols = df.schema.fields.filter(_.dataType.typeName == "string").map(_.name)
    df = df.na.replace(stringCols.toSeq, Map("NULL" -> null))
    Model.lfbRetype.foreach { case (c, t) =>
      if (df.columns.contains(c)) df = df.withColumn(c, col(c).cast(t))
    }
    val base = df
      .withColumn("USRN", when(col("USRN") === 0, lit(null)).otherwise(col("USRN")))
      .withColumn("Longitude", when(col("Latitude") === 0, lit(null)).otherwise(col("Longitude")))
      .withColumn("Latitude", when(col("Latitude") === 0, lit(null)).otherwise(col("Latitude")))
      .withColumn("IncGeo_WardName", initcap(col("IncGeo_WardName")))
    // Ward modernization: stamp every row with its ward NAME's
    // newest-dated code (tie-broken on the code itself so two codes
    // sharing the newest date stamp deterministically). The stamped value
    // is a per-ward CONSTANT, so the W1 window formulation
    // (`first().over(partitionBy(name).orderBy(date desc, code desc))`)
    // — which shuffles and sorts the WHOLE wide corpus into one partition
    // per ward — is overkill at scale: the 1B direct-clean rung measured
    // that shuffle + per-ward sort spill alone exceeding the box's
    // scratch disk. `max(struct(date, code))` per ward is the same value
    // (struct ordering: field-wise, nulls smallest — exactly desc
    // nulls-last first()), computed with map-side partial aggregation
    // over ~600 groups and joined back as a BROADCAST — the corpus never
    // shuffles. Null-safe join: a null ward name forms a window partition
    // too, so the join key must match null to null.
    val newest = base
      .groupBy(col("IncGeo_WardName").as("_wn"))
      .agg(max(struct(col("DateOfCall"), col("IncGeo_WardCode"))).as("_m"))
      .select(col("_wn"), col("_m.IncGeo_WardCode").as("_modernCode"))
    base
      .join(broadcast(newest), base("IncGeo_WardName") <=> newest("_wn"), "left")
      .withColumn("IncGeo_WardCode", col("_modernCode"))
      .drop("_wn", "_modernCode")
  }

  /** Air-quality cleanse (reference: etl/transform/aq-cleanse.py): recursive
    * scan, negative values -> null, timestamp parse, long->wide pivot with
    * the fixed species list (determinism — SURVEY §7.4.4), one-sided
    * z-score outlier removal, AQI bucketing, hash key, sentinel row.
    */
  def aqCleanse(spark: SparkSession, inPath: String, outPath: String): Unit = {
    // The reference's format-auto load reads the staging parquet written
    // by the extract (header/inferSchema options are parquet no-ops).
    var df = spark.read
      .option("recursiveFileLookup", "true").load(inPath)
      .select("Species", "ReadingDateTime", "Value")
      .withColumn("Value", when(col("Value") < 0, lit(null)).otherwise(col("Value")))
      .withColumn("ReadingDateTime", to_timestamp(col("ReadingDateTime"), "dd/MM/yyyy HH:mm"))
      .groupBy("ReadingDateTime").pivot("Species", Model.aqSpecies)
      .agg(round(avg("Value"), 1))
      .withColumnRenamed("PM2.5", "PM2_5")
    val speciesCols = Model.aqStrategies.map(_._1).filter(df.columns.contains)
    df = Relational.removeOutliers(df, speciesCols, 3.0, twoSided = false)
    Model.aqStrategies.foreach { case (c, strategy) =>
      if (df.columns.contains(c))
        df = df.withColumn(s"${c}Level", Relational.bucketize(col(c), strategy))
          .drop(c)
    }
    val levelCols = df.columns.filter(_ != "ReadingDateTime").toSeq
    df = df.withColumn("AirQualityKey", Relational.hashId(levelCols.map(col)))
    val sentinel = spark.range(1).select(
      lit(null).cast(TimestampType).as("ReadingDateTime") +:
        levelCols.map(c => lit("Unknown").as(c)) :+
        lit("Unknown").as("AirQualityKey"): _*)
      .select(df.columns.toIndexedSeq.map(col): _*)
    df.union(sentinel).write.mode("overwrite").parquet(outPath)
  }

  /** Weather cleanse (reference: etl/transform/weather-cleanse.py): derived
    * measures with null/zero guards, nine bucketings, hash key, sentinel.
    */
  def weatherCleanse(spark: SparkSession, inPath: String, outPath: String): Unit = {
    def bucket(df: DataFrame, c: String, strategy: Seq[Relational.Bucket],
               renameTo: String): DataFrame =
      df.withColumn(c, Relational.bucketize(col(c), strategy)).withColumnRenamed(c, renameTo)

    var df = spark.read.load(inPath)
      .select("date", "tavg", "tmin", "tmax", "wdir", "wspd", "wpgt", "pres",
        "prcp", "snow", "tsun")
      .withColumn("TemperatureAmplitude",
        when(col("tmin").isNull || col("tmax").isNull, lit(null))
          .otherwise(col("tmax") - col("tmin")))
      .withColumn("WindGustinessPct",
        when(col("wspd").isNull || col("wpgt").isNull, lit(null))
          .when(col("wspd") === 0, lit(0.0))
          .otherwise((col("wpgt") - col("wspd")) / col("wspd") * 100))
      .withColumn("wdir", when(col("wdir").isNull, lit(null)).otherwise(col("wdir") % 360))
    df = bucket(df, "tavg", Model.temperatureCategory, "TemperatureCategory")
    df = df.withColumn("TemperatureAmplitude",
      Relational.bucketize(col("TemperatureAmplitude"), Model.temperatureAmplitude))
    df = bucket(df, "wdir", Model.windDirection, "WindDirection")
    df = bucket(df, "wspd", Model.windStrength, "WindStrength")
    df = bucket(df, "WindGustinessPct", Model.windGustiness, "WindGustiness")
    df = bucket(df, "pres", Model.pressureLevel, "PressureLevel")
    df = bucket(df, "prcp", Model.precipitationLevel, "PrecipitationLevel")
    df = bucket(df, "snow", Model.snowLevel, "SnowLevel")
    df = bucket(df, "tsun", Model.sunshineLevel, "SunshineLevel")
    df = df.drop("tmin", "tmax", "wpgt")
      .withColumn("WeatherKey", Relational.hashId(Seq(
        col("date"), col("TemperatureCategory"), col("TemperatureAmplitude"),
        col("WindDirection"), col("WindStrength"), col("WindGustiness"),
        col("PressureLevel"), col("PrecipitationLevel"), col("SnowLevel"),
        col("SunshineLevel"))))
    val sentinel = spark.range(1).select(
      df.columns.toIndexedSeq.map(c =>
        if (c == "date") lit(null).cast(df.schema(c).dataType).as(c)
        else lit("Unknown").as(c)): _*)
    df.union(sentinel)
      .withColumn("date", col("date").cast("date"))
      .write.mode("overwrite").parquet(outPath)
  }

  /** Well-being cleanse (reference: etl/transform/wb-cleanse.py): drop/
    * rename, bucket each metric into `<col>_Bucket` (null -> null; labels
    * filled later), round metrics to 2 places.
    */
  def wbCleanse(spark: SparkSession, inPath: String, outPath: String): Unit = {
    var df = spark.read.load(inPath)
      .drop("Old Ward Code", "Ward", "Borough")
      .withColumnRenamed("New ward code", "Ward_Code")
    Model.wbStrategies.foreach { case (c, strategy) =>
      df = df.withColumn(s"${c}_Bucket", Relational.bucketizeOrNull(col(c), strategy))
    }
    Model.wbStrategies.foreach { case (c, _) =>
      df = df.withColumn(c, round(col(c), 2))
    }
    df.write.mode("overwrite").parquet(outPath)
  }

  /** Ward dimension (reference: etl/transform/ward-dimension.py): collapse
    * to one row per WardCode with first-non-null attributes, hash id,
    * sentinel.
    */
  def wardDimension(spark: SparkSession, inPath: String, outPath: String): Unit = {
    val df = spark.read.parquet(inPath)
      .select(col("IncGeo_BoroughCode").as("BoroughCode"),
        col("ProperCase").as("BoroughName"),
        col("IncGeo_WardCode").as("WardCode"),
        col("IncGeo_WardName").as("WardName"))
      .filter(col("WardCode").isNotNull)
      .groupBy("WardCode")
      .agg(first("WardName", ignoreNulls = true).as("WardName"),
        first("BoroughName", ignoreNulls = true).as("BoroughName"),
        first("BoroughCode", ignoreNulls = true).as("BoroughCode"))
    val withId = df.withColumn("WardID", Relational.hashId(Seq(
      col("WardCode"), col("WardName"), col("BoroughName"), col("BoroughCode"))))
    val sentinel = spark.range(1).select(
      withId.columns.toIndexedSeq.map(c => lit("Unknown").as(c)): _*)
    withId.unionByName(sentinel).write.mode("overwrite").parquet(outPath)
  }

  /** Incident-type dimension (reference: etl/transform/incident-type-populate.py).
    * The key-derivation logic is shared with the fact build via
    * `deriveIncidentTypeKey` (the reference duplicates it verbatim).
    */
  def incidentTypeDimension(spark: SparkSession, inPath: String, outPath: String): Unit = {
    val distinctTriples = spark.read.parquet(inPath)
      .select("IncidentGroup", "StopCodeDescription", "SpecialServiceType").distinct()
    val dim = deriveIncidentTypeKey(distinctTriples)
      .select("IncidentType", "IncidentDescription", "IncidentTypeKey").distinct()
    val sentinel = spark.range(1).select(lit("Unknown").as("IncidentType"),
      lit("Unknown incident type").as("IncidentDescription"),
      lit("Unknown").as("IncidentTypeKey"))
    sentinel.union(dim).write.mode("overwrite").parquet(outPath)
  }

  /** Shared incident-type derivation (reference:
    * incident-type-populate.py:22-62 ≡ load_fact.py:100-140 — P13).
    */
  def deriveIncidentTypeKey(df: DataFrame): DataFrame =
    df.withColumn("IncidentType",
        when(col("IncidentGroup") === "Special Service", col("StopCodeDescription"))
          .otherwise(col("IncidentGroup")))
      .withColumn("IncidentDescription",
        when(col("IncidentGroup") === "Special Service", col("SpecialServiceType"))
          .otherwise(col("StopCodeDescription")))
      .withColumn("IncidentDescription",
        when(col("IncidentType") === "Use of Special Operations Room",
          lit("Use of Special Operations Room")).otherwise(col("IncidentDescription")))
      .withColumn("IncidentType", coalesce(col("IncidentType"), lit("Unknown")))
      .withColumn("IncidentDescription",
        coalesce(col("IncidentDescription"), lit("Unknown incident type")))
      .withColumn("IncidentTypeKey",
        sha2(concat(col("IncidentType"), lit("|"), col("IncidentDescription")), 256))

  /** Location-type dimension (reference: etl/transform/derive-location-types.py). */
  def locationTypeDimension(spark: SparkSession, inPath: String, outPath: String): Unit = {
    val dim = spark.read.parquet(inPath)
      .select("PropertyCategory", "PropertyType").distinct()
      .withColumn("PropertyCategory", coalesce(col("PropertyCategory"), lit("Unknown")))
      .withColumn("PropertyType", coalesce(col("PropertyType"), lit("Unknown")))
      .withColumn("LocationTypeKey",
        Relational.hashId(Seq(col("PropertyCategory"), col("PropertyType"))))
    val sentinel = spark.range(1).select(lit("Unknown").as("PropertyCategory"),
      lit("Unknown").as("PropertyType"), lit("Unknown").as("LocationTypeKey"))
    dim.union(sentinel).write.mode("overwrite").parquet(outPath)
  }

  /** Date dimension (reference: etl/transform/date-dimension.py): calendar
    * spanning the observed call-date range, Monday-first day-of-week,
    * incremental anti-join append.
    */
  def dateDimension(spark: SparkSession, lfbCleanPath: String, outPath: String): Unit = {
    val cal = Relational.calendarFor(spark.read.parquet(lfbCleanPath), "DateOfCall")
      .select(col("cal_date").as("Date"), col("year").as("Year"),
        col("month").as("Month"), col("day").as("Day"),
        col("day_of_week").as("DayOfWeek"), col("day_name").as("DayName"),
        col("month_name").as("MonthName"), col("quarter").as("Quarter"),
        col("week_of_year").as("WeekOfYear"), col("is_weekend").as("IsWeekend"))
    Relational.incrementalAppend(cal, Seq("Date"), outPath)
  }

  /** Well-being dimension (reference: etl/transform/wb-dimension.py):
    * rename to Value/Label pairs, null-fill labels, hash id over
    * (Year, WardCode), sentinel, incremental append on WellBeingID.
    */
  def wbDimension(spark: SparkSession, inPath: String, outPath: String): Unit = {
    val renames =
      Seq("Ward_Code" -> "WardCode") ++
        Model.wbRename.map { case (from, to) => from -> s"${to}Value" } ++
        Model.wbRename.map { case (from, to) => s"${from}_Bucket" -> s"${to}Label" }
    var df = renames.foldLeft(spark.read.parquet(inPath)) {
      case (acc, (from, to)) => acc.withColumnRenamed(from, to)
    }
    df = df.na.fill("Unknown", df.columns.filter(_.endsWith("Label")).toSeq)
    df = df.withColumn("WellBeingID", Relational.hashId(Seq(col("Year"), col("WardCode"))))
    val sentinel = spark.range(1).select(df.schema.fields.map(f =>
      if (f.dataType.typeName == "string") lit("Unknown").as(f.name)
      else lit(null).cast(f.dataType).as(f.name)).toSeq: _*)
    Relational.incrementalAppend(df.unionByName(sentinel), Seq("WellBeingID"), outPath)
  }

  /** Catalog loads: enforce the dimension's declared column order/types via
    * an explicit projection (the Scala-idiomatic equivalent of the
    * reference's positional RDD round trip — SURVEY §1.3), cluster with
    * [[Relational.clustered]] (the Z-ORDER stand-in), and saveAsTable
    * (reference: etl/load/load_*_dim.py).
    */
  def loadDimTable(spark: SparkSession, inPath: String, table: String,
                   columns: Seq[(String, String)], partitionBy: Option[String],
                   clusterBy: Seq[String], dropCols: Seq[String] = Nil,
                   distinct: Boolean = false, cacheTable: Boolean = false): Unit = {
    var df = spark.read.parquet(inPath).drop(dropCols: _*)
    if (distinct) df = df.distinct()
    df = df.select(columns.map { case (from, to) => col(from).as(to) }: _*)
    // One range partition: every dimension is bounded by the date and ward
    // grid, far below `Relational.rowSizedPartitions`' 250k rows per task,
    // so this is one globally-ordered file per partition dir (what OPTIMIZE
    // ZORDER on a dim means) with no sizing `count()` job.
    val writer = Relational.clustered(df, partitionBy, clusterBy, partitions = 1)
      .write.mode("overwrite").format("parquet")
    Relational.prepareManagedOverwrite(spark, table)
    partitionBy.fold(writer)(p => writer.partitionBy(p)).saveAsTable(table)
    // K6: pin small dimension tables in the block cache for the fact-build
    // joins (reference: etl/load/load_air_quality_dim.py:56). CACHE TABLE
    // is eager; Pipeline uncaches after the fact load.
    if (cacheTable) spark.sql(s"CACHE TABLE $table")
  }

  /** Cumulative batch-split preprocessor (reference:
    * batching/lfb-preprocess.py:34-58, batching/config.yaml:1-3): union the
    * raw incident CSVs column-by-name (the reference's pandas concat), parse
    * the date column, and write cumulative CSV batches under
    * `outPath/1..N` — batch i holds every row with date < splitDates(i)
    * (rows with unparseable dates compare null and drop out, matching
    * pandas NaT semantics), and the final batch N+1 is the full dataset.
    * Everything is read untyped (dtype=str in the reference) and the date
    * is re-formatted to `dateFmt` on the way out, so batches are byte-level
    * drop-in inputs for the extract jobs.
    */
  def batchSplit(spark: SparkSession, inPaths: Seq[String], outPath: String,
                 dateCol: String, dateFmt: String,
                 splitDates: Seq[String]): Unit = {
    require(inPaths.nonEmpty, s"batchSplit: no input CSVs to split into $outPath")
    val raw = inPaths.map(p => spark.read.option("header", "true").csv(p))
      .reduce(_.unionByName(_, allowMissingColumns = true))
    val parsed = raw
      .withColumn("__d", expr(s"try_to_date($dateCol, '$dateFmt')"))
      .cache()
    try {
      val batches = splitDates.map(d =>
        parsed.where(col("__d") < to_date(lit(d)))) :+ parsed
      // The batch writes are independent jobs over the one cached parse —
      // submit them concurrently: the scheduler interleaves their stages,
      // so wall time is the largest batch, not the sum of all of them. A
      // failing batch surfaces only after every other write has finished,
      // so the cached parse is never unpersisted under a running write.
      graft.Sessions.concurrently(batches.zipWithIndex.map { case (b, i) => () =>
        b.withColumn(dateCol, date_format(col("__d"), dateFmt)).drop("__d")
          .write.mode("overwrite").option("header", "true")
          .csv(s"$outPath/${i + 1}")
      })
    } finally { parsed.unpersist(); () }
  }

  /** Batch extract for the events table, with the SAME value-level epoch
    * gate the streaming ingest applies per file
    * (`EventStreams.incrementalIngest`): schema dispatch
    * (`Tables.eventTimeUs`) accepts any credible `ts` encoding but cannot
    * tell a producer that wrote ms-as-µs VALUES — every decoded instant
    * lands 1000× off, deep in 1970, and silently poisons every downstream
    * window/sessionize/as-of join. One min/max aggregate over the landing
    * turns that into a loud extract failure BEFORE the rows reach the
    * lake. Incremental on event_id like the other extract jobs; only the
    * new slice is gated (already-landed rows passed their own run's gate).
    */
  def eventsExtract(spark: SparkSession, inPath: String, outPath: String): Unit = {
    val raw = spark.read.parquet(inPath)
    val existing = Relational.existingParquet(spark, outPath)
    val fresh = existing.fold(raw)(Relational.newRowsOnly(raw, _, Seq("event_id")))
    val gated = fresh.withColumn("__tus", graft.Tables.eventTimeUs(fresh))
    graft.ops.Checks.epochRangeUs(gated, "__tus").left.foreach(v =>
      throw new IllegalStateException(
        s"eventsExtract gate failed for $inPath: ${v.check}: ${v.detail}"))
    fresh.write.mode(if (existing.isDefined) "append" else "overwrite")
      .parquet(outPath)
  }
}
