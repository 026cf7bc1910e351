package graft.warehouse

import java.nio.file.{Files, Path}

/** Synthetic raw-input CSVs shaped per FIXTURES.md §1: the LFB call sheet
  * (39 columns, incl. the tricky rows — "Special Service", Special-Ops
  * override, literal "NULL"s, zero Latitude/USRN, ward-code modernization
  * pairs), six air-quality station files, well-being (16 cols), weather
  * (11 cols).
  */
object Fixtures {

  /** The 39-column LFB raw header (FIXTURES.md §1) — shared by the 6-row
    * correctness fixture, the driver-side scaled writer, and the parallel
    * Spark generator (which stamps it at the head of every part file). */
  private[warehouse] val lfbHeader =
    "IncidentNumber,DateOfCall,TimeOfCall,CalYear,HourOfCall,IncidentGroup," +
      "StopCodeDescription,SpecialServiceType,PropertyCategory,PropertyType," +
      "AddressQualifier,Postcode_full,Postcode_district,UPRN,USRN," +
      "IncGeo_BoroughCode,IncGeo_BoroughName,ProperCase,IncGeo_WardCode," +
      "IncGeo_WardName,IncGeo_WardNameNew,Easting_m,Northing_m," +
      "Easting_rounded,Northing_rounded,Latitude,Longitude,FRS," +
      "IncidentStationGround,FirstPumpArriving_AttendanceTime," +
      "FirstPumpArriving_DeployedFromStation,SecondPumpArriving_AttendanceTime," +
      "SecondPumpArriving_DeployedFromStation,NumStationsWithPumpsAttending," +
      "NumPumpsAttending,PumpCount,PumpMinutesRounded,Notional Cost (£),NumCalls"

  def write(dir: Path): Pipeline.Inputs = {
    def lfbRow(id: Int, date: String, time: String, group: String, stop: String,
               special: String, propCat: String, propType: String, wardCode: String,
               wardName: String, lat: String, lon: String, usrn: String,
               station: String, attend: String, cost: String, calls: String): String =
      s"IN$id,$date,$time,2022,10,$group,$stop,$special,$propCat,$propType," +
        s"Within same building,E1 1AA,E1,1000$id,$usrn,E09000001,City,City of London," +
        s"$wardCode,$wardName,$wardName,532000,181000,532000,181000,$lat,$lon,LFB," +
        s"$station,$attend,StationA,300,StationB,2,2,2,60,$cost,$calls"

    val lfbRows = Seq(
      lfbRow(1, "05-Jan-22", "10:15:00", "Fire", "Primary Fire", "NULL",
        "Dwelling", "House", "W001", "alpha ward", "51.5", "-0.1", "12345",
        "Soho", "240", "500", "1"),
      lfbRow(2, "06-Jan-22", "11:00:00", "Special Service", "Flooding", "Flooding major",
        "Dwelling", "Flat", "W001", "alpha ward", "51.6", "-0.2", "12346",
        "Soho", "180", "400", "2"),
      lfbRow(3, "07-Jan-22", "12:30:00", "Special Service", "Use of Special Operations Room",
        "Other", "Outdoor", "Park", "W002", "beta ward", "51.7", "-0.3", "12347",
        "Chelsea", "NULL", "600", "3"),
      lfbRow(4, "08-Jan-22", "09:45:00", "False Alarm", "AFA", "NULL",
        "Dwelling", "House", "W003", "alpha ward", "0", "0", "0",
        "Soho", "120", "NULL", "NULL"),
      // newer date, same ward name as W003/W001 rows -> modernization keeps
      // the newest-dated code for "Alpha Ward"
      lfbRow(5, "01-Feb-22", "23:59:00", "Fire", "Secondary Fire", "NULL",
        "NULL", "NULL", "W009", "alpha ward", "51.5", "0", "12349",
        "Soho", "90", "250", "1"),
      lfbRow(6, "02-Feb-22", "00:10:00", "NULL", "NULL", "NULL",
        "Vehicle", "Car", "NULL", "NULL", "51.4", "-0.4", "12350",
        "Chelsea", "150", "350", "2"))

    val lfbCsv = dir.resolve("lfb-calls.csv")
    Files.writeString(lfbCsv, (lfbHeader +: lfbRows).mkString("\n"))

    val aqHeader = "Site,Species,ReadingDateTime,Value,Units,Provisional_or_Ratified"
    def aqFile(site: String, rows: Seq[String]): Path = {
      val p = dir.resolve(s"aq-$site.csv")
      Files.writeString(p, (aqHeader +: rows).mkString("\n"))
      p
    }
    // readings bracketing the incident dates; shared timestamps across
    // species (pivot), one negative (-> null), one extreme (z-score)
    val species = Seq("CO", "NO", "NO2", "NOX", "O3", "PM1", "PM10", "PM2.5")
    val times = Seq("05/01/2022 09:00", "06/01/2022 12:00", "07/01/2022 11:30",
      "08/01/2022 10:00", "01/02/2022 22:00", "02/02/2022 01:00")
    val aqPaths = (0 until 6).map { i =>
      val site = s"ST$i"
      val rows = for (t <- times; (sp, j) <- species.zipWithIndex) yield {
        val v =
          if (i == 0 && t == times.head && sp == "CO") "-5.0"
          else (10.0 + j * 5 + i).toString
        s"$site,$sp,$t,$v,ug/m3,Ratified"
      }
      aqFile(site, rows)
    }

    val wbHeader = "Old Ward Code,New ward code,Ward,Borough,Year," +
      "Life_Expectancy,Childhood_Obesity,Incapacity_Benefit,Unemployment,Crime," +
      "GCSE_points,Public_Transport_Access,Deliberate_Fires,Unauthorised_Absence," +
      "Dependent_children,Homes_with_access"
    val wbRows = Seq(
      s"OLD1,W001,Alpha Ward,City,2022,81.5,20.0,2.5,4.0,85.0,340.0,6.0,3.0,0.8,20.0,1.0",
      s"OLD2,W002,Beta Ward,City,2022,79.0,26.0,6.0,9.0,130.0,315.0,2.0,7.0,1.4,30.0,-1.0",
      s"OLD3,W009,Alpha Ward,City,2022,86.0,10.0,1.0,1.5,50.0,380.0,8.0,0.05,0.5,8.0,0.5")
    val wbCsv = dir.resolve("well-being.csv")
    Files.writeString(wbCsv, (wbHeader +: wbRows).mkString("\n"))

    val weatherHeader = "date,tavg,tmin,tmax,wdir,wspd,wpgt,pres,prcp,snow,tsun"
    val weatherRows = Seq(
      "2022-01-05,5.0,1.0,9.0,350.0,15.0,30.0,1010.0,1.0,0.0,26000.0",
      "2022-01-06,-12.0,-15.0,-8.0,400.0,0.0,0.0,975.0,30.0,40.0,20000.0",
      "2022-01-07,12.0,,18.0,90.0,45.0,60.0,1025.0,0.05,,30000.0",
      "2022-01-08,22.0,15.0,32.0,180.0,120.0,150.0,1045.0,12.0,8.0,37000.0",
      "2022-02-01,8.0,4.0,12.0,270.0,8.0,9.0,1005.0,,0.0,28000.0")
    val weatherCsv = dir.resolve("weather.csv")
    Files.writeString(weatherCsv, (weatherHeader +: weatherRows).mkString("\n"))

    Pipeline.Inputs(lfbCsv.toString, aqPaths.map(_.toString), weatherCsv.toString,
      wbCsv.toString)
  }

  // --- scaled-corpus vocabulary (object-level so the Spark generator's
  // executor closures reach it via static MODULE$ access, no capture) ---
  private val months = Seq("Jan", "Feb", "Mar", "Apr", "May", "Jun",
    "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
  private val groups = Seq("Fire", "False Alarm", "Special Service")
  private val stops = Seq("Primary Fire", "Secondary Fire", "AFA", "Flooding",
    "Use of Special Operations Room")
  private val props = Seq("House", "Flat", "Car", "Park", "Office", "Shop")
  private val stations = (0 until 40).map(i => s"Station$i")

  // 3 years x 12 months x 28 days = 1008 distinct valid dates; the grid
  // enumeration keeps the weather/date dimensions unique per date.
  private val nDays = 1008
  private def dateOf(day: Int): (Int, Int, Int) = {
    val y = 2020 + day / 336; val m = (day % 336) / 28; val d = day % 28 + 1
    (y, m, d)
  }

  /** Zipf inverse-CDF tables for the SKEWED corpus variant: real LFB
    * incidents are Zipf-ish by station/ward (a handful of central
    * stations take a large share of calls), and the fact table partitions
    * by IncidentStationGround — the uniform draw never exercises the hot
    * write directory or the skewed dim joins the production shape has.
    * Station exponent 1.2 over 40 stations puts ~30% of the corpus on the
    * top station; ward exponent 1.0 over 600 puts ~15% on the top ward.
    * Object-level so executor closures reach them via MODULE$, like the
    * vocabulary above. */
  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
    val total = w.sum
    val c = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += w(i) / total; c(i) = acc; i += 1 }
    c(n - 1) = 1.0 // guard the top end against float round-down
    c
  }
  private val stationZipf = zipfCdf(40, 1.2)
  private val wardZipf = zipfCdf(600, 1.0)
  private def zipfDraw(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    if (i >= 0) i else math.min(-(i + 1), cdf.length - 1)
  }

  /** splitmix64 finalizer: neighbouring row ids become decorrelated seeds
    * (java.util.Random's LCG scramble alone leaves sequential-seed
    * structure in the first draws). */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** One scaled LFB CSV line. Seeded PER ROW (splitmix64 of the row id),
    * so the corpus is deterministic AND independent of who generates it —
    * the driver-side writer and the parallel Spark generator produce the
    * same line for the same id regardless of partitioning. */
  private[warehouse] def scaledLfbRow(i: Long, skew: Boolean = false): String = {
    val rng = new scala.util.Random(mix64(i))
    val day = rng.nextInt(nDays)
    val (y, m, d) = dateOf(day)
    val date = f"$d%02d-${months(m)}-${y % 100}%02d"
    val time = f"${rng.nextInt(24)}%02d:${rng.nextInt(60)}%02d:00"
    // skew=false keeps the exact historical draw SEQUENCE (every ladder
    // rung so far is reproducible byte-for-byte). skew=true re-routes the
    // ward/station draws through the Zipf tables — and because nextDouble
    // consumes the RNG stream differently than nextInt, every draw AFTER
    // the ward draw (group, stop, property, coords, pumps, costs) also
    // differs per row. Only the fields drawn BEFORE it (id, date, time)
    // are pinned across the pair (what PipelineSpec asserts); a skew-vs-
    // uniform comparison is distribution-level, not per-row.
    val ward = if (skew) zipfDraw(wardZipf, rng.nextDouble()) else rng.nextInt(600)
    val grp = groups(rng.nextInt(groups.length))
    val stop = stops(rng.nextInt(stops.length))
    val prop = props(rng.nextInt(props.length))
    s"IN$i,$date,$time,$y,10,$grp,$stop,Special $stop,Cat,$prop," +
      s"Within,E$ward,E,1$i,${1000 + i},E090${ward / 20},B${ward / 20},Borough${ward / 20}," +
      s"W$ward,ward $ward,ward $ward,532000,181000,532000,181000," +
      s"${51.3 + rng.nextInt(40) / 100.0},${-0.5 + rng.nextInt(60) / 100.0},LFB," +
      s"${stations(if (skew) zipfDraw(stationZipf, rng.nextDouble())
        else rng.nextInt(stations.length))},${60 + rng.nextInt(600)},StationA," +
      s"300,StationB,${1 + rng.nextInt(3)},${1 + rng.nextInt(4)},2," +
      s"${30 + rng.nextInt(120)},${100 + rng.nextInt(2000)},${1 + rng.nextInt(4)}"
  }

  /** Parallel LFB corpus generator: row ids `[startId, startId+n)` written
    * as a DIRECTORY of text part files under `path` (~1M lines each).
    * Every part leads with the header line — Spark's CSV reader with
    * header=true strips the first line of EVERY file, so the directory
    * reads back exactly like the driver-written single file. This is what
    * makes the 500M-row ladder rung affordable: the driver-side writer
    * measured ~13 min for 150M rows (SCALE.md round 15) where the 32-way
    * generator is bounded by disk bandwidth, and `startId` chunking lets a
    * storage-constrained box generate -> extract -> prune in corpus slices
    * instead of holding the whole CSV (the 150M rung's binding constraint).
    */
  def writeScaledLfbSpark(spark: org.apache.spark.sql.SparkSession,
                          path: String, n: Long, startId: Long = 0L,
                          skew: Boolean = false): Unit = {
    import spark.implicits._
    val parts = math.min(
      math.max(spark.sparkContext.defaultParallelism.toLong, n / 1000000L),
      20000L).toInt
    spark.range(startId, startId + n, 1L, parts)
      .mapPartitions(it => Iterator(lfbHeader) ++ it.map(i => scaledLfbRow(i, skew)))
      .write.mode("overwrite").text(path)
  }

  /** Direct-to-clean corpus generation for fact-stage-only scale rungs:
    * synthesize the SAME CSV lines as [[writeScaledLfbSpark]], but feed
    * them to the CSV reader as an in-memory Dataset[String] and pipe the
    * result through the cleanse transform — no CSV, no raw parquet on
    * disk. At 1B rows the skipped artifacts are ~54 GB of CSV plus ~30 GB
    * of raw parquet (and the extract stage's accumulated-key anti-joins),
    * which is exactly the margin a fact-stage rung past the full-lifecycle
    * disk ceiling needs. Fidelity is structural, not hoped-for: the same
    * `spark.read.csv` parser with the same options does the typing, with
    * the schema inferred over the id-range EDGES (ids grow monotonically,
    * so the largest ids decide int-vs-bigint — a head-only sample would
    * misinfer), and the same `try_to_date` the extract applies; a spec
    * pins byte-equality to the CSV -> extract -> cleanse path at small n.
    * The edge-window size is `edgeRows` (100k) — a parameter so the
    * equality spec can run with a SMALL edge at small n and actually
    * exercise the sampled-inference seam (at the default, any n ≤ 200k
    * degenerates to full-range inference and the seam the spec claims to
    * pin never runs).
    */
  private[warehouse] def writeScaledLfbCleanSpark(
      spark: org.apache.spark.sql.SparkSession, cleanPath: String, n: Long,
      skew: Boolean = false, edgeRows: Long = 100000L): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val parts = math.min(
      math.max(spark.sparkContext.defaultParallelism.toLong, n / 1000000L),
      20000L).toInt
    def lines(ranges: (Long, Long)*) = ranges.map { case (a, b) =>
      spark.range(a, b, 1L,
          math.max(1, math.min(parts.toLong, b - a).toInt))
        .mapPartitions(it => Iterator(lfbHeader) ++ it.map(i => scaledLfbRow(i, skew)))
    }.reduce(_ union _)
    // header=true on a Dataset[String] source drops every line equal to
    // the header, so the per-partition header copies vanish exactly like
    // the per-file headers the file reader strips.
    val edge = math.min(edgeRows, n)
    require(edge >= 1, s"edgeRows must be >= 1, got $edge")
    val schema = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(lines((0L, edge), (math.max(edge, n - edge), n))).schema
    val raw = spark.read.option("header", "true").schema(schema)
      .csv(lines((0L, n)))
      // same parse the extract applies (Jobs.lfbExtract's dateCol)
      .withColumn("DateOfCall", expr("try_to_date(DateOfCall, 'dd-MMM-yy')"))
    Jobs.lfbCleanseDf(raw).write.mode("overwrite").parquet(cleanPath)
    // self-check: the generator must produce exactly n incidents (a header
    // filter or range seam bug would silently shrink the rung)
    val rows = spark.read.parquet(cleanPath).count()
    require(rows == n, s"direct-clean generator wrote $rows rows, expected $n")
  }

  /** Scaled synthetic inputs: `n` incidents over 2020-2022 across ~600
    * wards, hourly air-quality readings, daily weather, per-(ward, year)
    * well-being — realistic warehouse cardinalities for timing the full
    * DAG beyond the 6-row correctness fixture. Deterministic (seeded).
    * With a session and >=1M rows the LFB corpus (the only input that
    * scales with `n`) is generated by [[writeScaledLfbSpark]] in parallel;
    * the driver path remains for spec-sized fixtures and session-less use.
    */
  def writeScaled(dir: Path, n: Int,
                  spark: Option[org.apache.spark.sql.SparkSession] = None): Pipeline.Inputs = {
    val lfbCsv = dir.resolve("lfb-calls.csv")
    spark match {
      case Some(s) if n >= 1000000 =>
        writeScaledLfbSpark(s, lfbCsv.toString, n.toLong)
      case _ =>
        writeLines(lfbCsv,
          Iterator(lfbHeader) ++ (0 until n).iterator.map(i => scaledLfbRow(i.toLong)))
    }
    writeScaledAux(dir)
  }

  /** The three non-LFB scaled inputs (air quality, weather, well-being) —
    * all bounded by the date/ward grid, never by `n`, so they stay
    * driver-side. Factored out so the runner's chunked and direct-clean
    * modes (`PipelineDemo --chunks`, `--direct-clean`) can write them once
    * alongside their LFB slices.
    */
  private[warehouse] def writeScaledAux(dir: Path): Pipeline.Inputs = {
    val rng = new scala.util.Random(42)
    val lfbCsv = dir.resolve("lfb-calls.csv")
    val species = Seq("CO", "NO", "NO2", "NOX", "O3", "PM1", "PM10", "PM2.5")
    val aqHeader = "Site,Species,ReadingDateTime,Value,Units,Provisional_or_Ratified"
    val aqPaths = (0 until 3).map { s =>
      val p = dir.resolve(s"aq-ST$s.csv")
      val rows = (0 until nDays).iterator.flatMap { day =>
        val (y, m, d) = dateOf(day)
        Iterator(0, 6, 12, 18).flatMap(h =>
          species.iterator.map(sp =>
            f"ST$s,$sp,$d%02d/${m + 1}%02d/$y $h%02d:00,${5 + rng.nextInt(80)},ug/m3,Ratified"))
      }
      writeLines(p, Iterator(aqHeader) ++ rows)
      p
    }

    val weatherHeader = "date,tavg,tmin,tmax,wdir,wspd,wpgt,pres,prcp,snow,tsun"
    val weatherRows = (0 until nDays).iterator.map { day =>
      val (y, m, d) = dateOf(day)
      f"$y-${m + 1}%02d-$d%02d,${rng.nextInt(30) - 5},${rng.nextInt(10) - 8}," +
        f"${10 + rng.nextInt(25)},${rng.nextInt(500)},${rng.nextInt(60)}," +
        f"${rng.nextInt(120)},${970 + rng.nextInt(80)},${rng.nextInt(30)}," +
        f"${rng.nextInt(10)},${20000 + rng.nextInt(20000)}"
    }
    val weatherCsv = dir.resolve("weather.csv")
    writeLines(weatherCsv, Iterator(weatherHeader) ++ weatherRows)

    val wbHeader = "Old Ward Code,New ward code,Ward,Borough,Year," +
      "Life_Expectancy,Childhood_Obesity,Incapacity_Benefit,Unemployment,Crime," +
      "GCSE_points,Public_Transport_Access,Deliberate_Fires,Unauthorised_Absence," +
      "Dependent_children,Homes_with_access"
    val wbRows = for (ward <- (0 until 600).iterator; y <- Iterator(2020, 2021, 2022))
      yield f"OLD$ward,W$ward,Ward $ward,Borough${ward / 20},$y," +
        f"${76 + rng.nextInt(12)},${8 + rng.nextInt(25)},${1 + rng.nextInt(8)}," +
        f"${1 + rng.nextInt(12)},${40 + rng.nextInt(160)},${300 + rng.nextInt(90)}," +
        f"${rng.nextInt(8)},${rng.nextInt(10)},${rng.nextInt(2)}.${rng.nextInt(9)}," +
        f"${5 + rng.nextInt(40)},${rng.nextInt(3) - 1}"
    val wbCsv = dir.resolve("well-being.csv")
    writeLines(wbCsv, Iterator(wbHeader) ++ wbRows)

    Pipeline.Inputs(lfbCsv.toString, aqPaths.map(_.toString), weatherCsv.toString,
      wbCsv.toString)
  }

  private def writeLines(p: Path, lines: Iterator[String]): Unit = {
    val w = Files.newBufferedWriter(p)
    try lines.foreach { l => w.write(l); w.newLine() } finally w.close()
  }
}
