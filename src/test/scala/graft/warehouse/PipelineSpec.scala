package graft.warehouse

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** End-to-end warehouse pipeline on FIXTURES.md-shaped synthetic inputs:
  * the SURVEY §7.2 milestone, widened to the full DAG. The run itself
  * enforces the C1-C8 gates (it throws on violation); assertions here
  * cover fact semantics and incremental idempotence.
  */
class PipelineSpec extends SparkSpec {

  private lazy val base = java.nio.file.Files.createTempDirectory("graft_pipe_")
  private lazy val inputs = Fixtures.write(base)
  private lazy val paths = Pipeline.Paths(base.resolve("staging").toString)

  private lazy val ranOnce: Unit =
    Pipeline.run(spark, inputs, paths)

  test("pipeline runs end-to-end with all quality gates green") {
    ranOnce
    assert(spark.table("lfb_call").count() == 6)
  }

  test("fact schema matches the declared contract") {
    ranOnce
    val fact = spark.table("lfb_call")
    // saveAsTable moves the partition column last; compare as sets + types
    val got = fact.schema.fields.map(f => f.name -> f.dataType).toMap
    val want = Model.factSchema.fields.map(f => f.name -> f.dataType).toMap
    assert(got == want)
  }

  test("incident-type derivation: Special Service switch and Special-Ops override") {
    ranOnce
    val it = spark.table("incident_types")
    // Special Service row: type <- StopCodeDescription, desc <- SpecialServiceType
    assert(it.where(col("IncidentType") === "Flooding" &&
      col("IncidentDescription") === "Flooding major").count() == 1)
    // Special-Ops override: description forced to the fixed label
    assert(it.where(col("IncidentType") === "Use of Special Operations Room" &&
      col("IncidentDescription") === "Use of Special Operations Room").count() == 1)
    // all-null triple -> Unknown sentinel semantics
    assert(it.where(col("IncidentTypeKey") === "Unknown").count() == 1)
  }

  test("every fact FK resolves or is Unknown; nulled measures defaulted") {
    ranOnce
    val fact = spark.table("lfb_call").cache()
    Seq("IncidentTypeKey", "LocationTypeKey", "WardID", "AirQualityKey",
      "WeatherKey", "WellBeingID").foreach { fk =>
      assert(fact.where(col(fk).isNull).count() == 0, s"$fk has nulls")
    }
    // row 6 has a NULL incident group -> Unknown incident type key
    assert(fact.where(col("IncidentNumber") === "IN6" &&
      col("IncidentTypeKey") === "Unknown").count() == 1)
    // row 4: NULL cost -> 0, NULL calls -> 1, CostPerCall 0
    val r4 = fact.where(col("IncidentNumber") === "IN4").head()
    assert(r4.getAs[Int]("NotionalCost") == 0)
    assert(r4.getAs[Int]("NumCalls") == 1)
    assert(r4.getAs[Int]("CostPerCall") == 0)
    // CostPerCall = NotionalCost / NumCalls cast int (row 2: 400/2)
    assert(fact.where(col("IncidentNumber") === "IN2").head()
      .getAs[Int]("CostPerCall") == 200)
  }

  test("ward modernization stamps the newest-dated code per ward name") {
    ranOnce
    // "Alpha Ward" appears with codes W001 (Jan) / W003 (Jan) / W009 (1 Feb);
    // the W1 window keeps the newest-dated code for every row, so the ward
    // dimension collapses to a single Alpha Ward entry under W009.
    val ward = spark.table("ward")
    val alpha = ward.where(col("WardName") === "Alpha Ward")
    assert(alpha.count() == 1)
    assert(alpha.head().getAs[String]("WardCode") == "W009")
  }

  test("fact joins weather by date and well-being by (ward, year)") {
    ranOnce
    val fact = spark.table("lfb_call")
    // incidents on fixture weather dates resolve to a real WeatherKey
    assert(fact.where(col("WeatherKey") =!= "Unknown").count() >= 4)
    // Alpha-ward (W009) incidents in 2022 resolve to the W009 well-being row
    assert(fact.where(col("WellBeingID") =!= "Unknown").count() >= 1)
  }

  test("air-quality band join resolves readings within ±12h") {
    ranOnce
    val fact = spark.table("lfb_call")
    // every fixture incident has an AQ reading within 12 h
    assert(fact.where(col("AirQualityKey") =!= "Unknown").count() == 6)
  }

  test("analytics aggregates land in the catalog with sane totals") {
    ranOnce
    val perMonth = spark.table("analytics.per_month")
    assert(perMonth.count() == 2) // Jan + Feb 2022
    assert(perMonth.agg(sum("IncidentCount")).head().getLong(0) == 6)
    assert(spark.table("analytics.per_ward").count() > 0)
    assert(spark.table("analytics.types_per_ward").count() > 0)
    assert(spark.table("analytics.per_location_type").count() > 0)
  }

  test("second run is incrementally idempotent") {
    ranOnce
    // every incremental sink: the four extracts (aqRaw through the
    // broadcast anti join) and the two incremental dimensions
    val sinks = Seq(paths.lfbRaw, paths.aqRaw, paths.weatherRaw, paths.wbRaw,
      paths.dateDim, paths.wbDim)
    def counts() = sinks.map(p => p -> spark.read.parquet(p).count())
    // a no-op append must not leave an empty part file behind
    def partFiles() = sinks.map(p => p -> new java.io.File(p).listFiles()
      .count(_.getName.endsWith(".parquet")))
    val before = counts()
    val filesBefore = partFiles()
    Pipeline.run(spark, inputs, paths)
    assert(counts() == before)
    assert(partFiles() == filesBefore)
    assert(spark.table("lfb_call").count() == 6)
  }

  test("restart-from-stage resumes over staged parquet without inputs (Airflow-retry shape)") {
    ranOnce
    // A retry never re-reads the source CSVs (they may have been pruned to
    // reclaim disk after extract consumed them) — prove it with ghost paths.
    val ghost = Pipeline.Inputs("/nonexistent/lfb.csv", Seq("/nonexistent/aq.csv"),
      "/nonexistent/weather.csv", "/nonexistent/wb.csv")
    val stages = Pipeline.run(spark, ghost, paths, fromStage = "dimension loads")
    assert(stages.map(_._1) ==
      Seq("dimension loads", "fact load", "post-load checks", "aggregates"))
    assert(spark.table("lfb_call").count() == 6)
    intercept[IllegalArgumentException] {
      Pipeline.run(spark, ghost, paths, fromStage = "not-a-stage")
    }
  }

  test("resume past 'dimension loads' self-heals when the catalog is empty (cross-JVM shape)") {
    ranOnce
    // Simulate the fresh-JVM catalog: drop every table, keep staging.
    Seq("date_dim", "ward", "incident_types", "location_type", "weather",
      "air_quality", "well_being", "lfb_call")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val ghost = Pipeline.Inputs("/nonexistent/lfb.csv", Seq("/nonexistent/aq.csv"),
      "/nonexistent/weather.csv", "/nonexistent/wb.csv")
    // Asking for "fact load" with no catalog would die on spark.table(...)
    // mid-stage; the runner must re-enter at "dimension loads" instead.
    val stages = Pipeline.run(spark, ghost, paths, fromStage = "fact load")
    assert(stages.map(_._1) ==
      Seq("dimension loads", "fact load", "post-load checks", "aggregates"))
    assert(spark.table("lfb_call").count() == 6)
  }

  test("resume self-heal triggers for ANY missing dim table (structural probe)") {
    ranOnce
    val ghost = Pipeline.Inputs("/nonexistent/lfb.csv", Seq("/nonexistent/aq.csv"),
      "/nonexistent/weather.csv", "/nonexistent/wb.csv")
    // Establish a full catalog, then drop one NON-ward dim: the former
    // hardcoded tableExists("ward") probe would have sailed past the heal
    // and died on spark.table("weather") inside the fact build. The probe
    // now derives from Pipeline.dimTables — the same list the stage's
    // loaders are required to match — so every dim is covered.
    Pipeline.run(spark, ghost, paths, fromStage = "dimension loads")
    for (dropped <- Seq("weather", "well_being")) {
      spark.sql(s"DROP TABLE IF EXISTS $dropped")
      val stages = Pipeline.run(spark, ghost, paths, fromStage = "fact load")
      assert(stages.map(_._1).headOption.contains("dimension loads"),
        s"dropping '$dropped' did not trigger the dimension-loads heal: " +
          stages.map(_._1))
      assert(spark.table("lfb_call").count() == 6)
    }
    Pipeline.dimTables.foreach(t =>
      assert(spark.catalog.tableExists(t), s"dim '$t' missing after heal"))
  }

  test("a gate reports every violation in declaration order") {
    ranOnce
    // Plant a date dimension with a duplicated Date whose copy has Day 40,
    // next to the run's good ward / incident-type / location-type dims.
    val planted = Pipeline.Paths(
      java.nio.file.Files.createTempDirectory("graft_gate_order_").toString)
    val good = spark.read.parquet(paths.dateDim)
    good.union(good.limit(1).withColumn("Day", lit(40)))
      .write.parquet(planted.dateDim)
    Seq(paths.wardDim -> planted.wardDim,
      paths.incidentTypeDim -> planted.incidentTypeDim,
      paths.locationTypeDim -> planted.locationTypeDim).foreach { case (from, to) =>
      spark.read.parquet(from).write.parquet(to)
    }
    val ghost = Pipeline.Inputs("/nonexistent/lfb.csv", Seq("/nonexistent/aq.csv"),
      "/nonexistent/weather.csv", "/nonexistent/wb.csv")
    val msg = intercept[IllegalStateException] {
      Pipeline.run(spark, ghost, planted, fromStage = "dimension checks")
    }.getMessage
    val pk = msg.indexOf("primaryKey: Date has 1 duplicated key values")
    val range = msg.indexOf("inRange: Day has 1 values outside")
    assert(pk >= 0 && range > pk, msg)
  }

  test("a failing unit fails its stage only after its siblings finish") {
    // Fresh inputs without the weather CSV: that extract fails at once
    // while the LFB and air-quality extracts are still running.
    val dir = java.nio.file.Files.createTempDirectory("graft_pipe_fail_")
    val in = Fixtures.write(dir)
    java.nio.file.Files.delete(java.nio.file.Paths.get(in.weatherCsv))
    val staged = Pipeline.Paths(dir.resolve("staging").toString)
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Pipeline.run(spark, in, staged)
    }
    assert(e.getMessage.contains(java.nio.file.Paths.get(in.weatherCsv).getFileName.toString),
      e.getMessage)
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty,
      "a sibling unit was still running when Pipeline.run threw")
    assert(spark.read.parquet(staged.lfbRaw).count() == 6)
  }

  test("parallel LFB generator produces the driver writer's corpus exactly") {
    // Per-row seeding makes the corpus a pure function of the row id: the
    // 32-task Spark generator (header at the head of every part file) and
    // the sequential driver writer must read back as the SAME rows under
    // the same CSV options the extract stage uses.
    val dir = java.nio.file.Files.createTempDirectory("graft_fixgen_")
    val n = 5000
    val dDir = dir.resolve("driver")
    java.nio.file.Files.createDirectories(dDir)
    Fixtures.writeScaled(dDir, n) // sequential driver path (no session)
    val sPath = dir.resolve("sparkgen").toString
    Fixtures.writeScaledLfbSpark(spark, sPath, n.toLong)
    val a = spark.read.option("header", "true")
      .csv(dDir.resolve("lfb-calls.csv").toString)
    val b = spark.read.option("header", "true").csv(sPath)
    assert(b.count() == n)
    assert(a.schema == b.schema)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "Spark-generated corpus differs from the driver-written one")
    assert(b.select("IncidentNumber").distinct().count() == n)
    // chunked generation (the storage-constrained gen->extract->prune
    // loop) covers the id space without overlap
    val c1 = dir.resolve("chunk1").toString
    val c2 = dir.resolve("chunk2").toString
    Fixtures.writeScaledLfbSpark(spark, c1, 2500L)
    Fixtures.writeScaledLfbSpark(spark, c2, 2500L, startId = 2500L)
    val chunks = spark.read.option("header", "true").csv(c1, c2)
    assert(chunks.count() == n &&
      chunks.select("IncidentNumber").distinct().count() == n)
    assert(chunks.exceptAll(b).isEmpty && b.exceptAll(chunks).isEmpty)
  }

  test("a 2-chunk extract lands the one-shot extract's raw rows and prunes the CSV") {
    val dir = java.nio.file.Files.createTempDirectory("graft_chunked_")
    val n = 2000
    val base = java.nio.file.Files.createDirectories(dir.resolve("chunked"))
    val chunked = Pipeline.Paths(base.resolve("staging").toString)
    PipelineDemo.chunkedExtract(spark, base, chunked, n, 2)
    assert(!java.nio.file.Files.exists(base.resolve("lfb-calls.csv")),
      "the consumed CSV slice was left behind")
    val csv = dir.resolve("oneshot.csv").toString
    Fixtures.writeScaledLfbSpark(spark, csv, n.toLong)
    val oneShot = dir.resolve("oneshot.parquet").toString
    Jobs.lfbExtract(spark, csv, oneShot)
    val a = spark.read.parquet(chunked.lfbRaw)
    val b = spark.read.parquet(oneShot)
    assert(a.count() == n && a.schema == b.schema)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "chunked extract diverged from the one-shot extract")
    for (aux <- Seq(chunked.aqRaw, chunked.weatherRaw, chunked.wbRaw))
      assert(!spark.read.parquet(aux).isEmpty, s"$aux was not extracted")
  }

  test("incremental extract appends only unseen keys (K2)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_incex_")
    def csv(name: String, rows: Seq[String]): String = {
      val p = dir.resolve(name)
      java.nio.file.Files.writeString(p, ("k,v" +: rows).mkString("\n"))
      p.toString
    }
    val v1 = csv("v1.csv", (1 to 50).map(i => s"K$i,a$i"))
    // second landing: 30 duplicate keys (new payload) + 25 new keys
    val v2 = csv("v2.csv", ((21 to 50) ++ (51 to 75)).map(i => s"K$i,b$i"))
    val out = dir.resolve("out").toString
    def read(): Set[(String, String)] = spark.read.parquet(out).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    Jobs.extract(spark, v1, out, Seq("k"))
    Jobs.extract(spark, v2, out, Seq("k"))
    val landed = read()
    assert(landed.size == 75)
    // duplicate keys keep the FIRST landing's payload (K2 semantics)
    assert(landed.contains(("K21", "a21")) && landed.contains(("K51", "b51")))
    // full re-delivery (every key a duplicate): appends nothing
    Jobs.extract(spark, v2, out, Seq("k"))
    assert(spark.read.parquet(out).count() == 75 && read() == landed)
  }

  test("an empty input list fails naming the job") {
    // A resumed run rebinds the AQ inputs by globbing aq-*.csv; a work dir
    // whose AQ CSVs were pruned yields Nil.
    val dir = java.nio.file.Files.createTempDirectory("graft_noaq_")
    val in = Fixtures.write(dir).copy(aqCsvs = Nil)
    val aq = intercept[IllegalArgumentException] {
      Pipeline.run(spark, in, Pipeline.Paths(dir.resolve("staging").toString))
    }
    assert(aq.getMessage.contains("aqExtract") && aq.getMessage.contains("aq-*.csv"),
      aq.getMessage)
    val split = intercept[IllegalArgumentException] {
      Jobs.batchSplit(spark, Nil, dir.resolve("split").toString, "DateOfCall",
        "dd-MMM-yy", Seq("2022-02-01"))
    }
    assert(split.getMessage.contains("batchSplit"), split.getMessage)
  }

  private def sortedRows(table: String): Array[String] =
    spark.table(table).collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted

  /** FactLoad over the fixture run's dims into `table`. A sliced plan
    * deletes the cleansed input it consumed, so it reads a fresh copy of
    * the fixture's; returns the cleansed path the load read. */
  private def loadFact(table: String, plan: FactLoad.Plan = FactLoad.Plan()): String = {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val clean =
      if (plan.slices == 1) paths.lfbClean
      else {
        val copy = java.nio.file.Files.createTempDirectory("graft_clean_copy_")
          .resolve("lfb-calls-clean.parquet").toString
        val conf = spark.sparkContext.hadoopConfiguration
        val src = new Path(paths.lfbClean)
        val fs = src.getFileSystem(conf)
        require(FileUtil.copy(fs, src, fs, new Path(copy), false, conf))
        copy
      }
    FactLoad.run(spark, clean, "location_type", "ward",
      paths.aqClean, paths.weatherClean, paths.wbDim, table, plan)
    clean
  }

  test("sliced fact build (slices=3, pruned staging) equals the unsliced table") {
    ranOnce
    val unsliced = sortedRows("lfb_call")
    try {
      val clean = loadFact("lfb_call_sliced", FactLoad.Plan(3))
      val sliced = sortedRows("lfb_call_sliced")
      assert(sliced.length == unsliced.length)
      assert(sliced.sameElements(unsliced),
        "sliced fact build diverged from the unsliced table")
      // a sliced load prunes what it consumed: the cleansed input once
      // staged, each staging slice once appended, then the staging root
      import org.apache.hadoop.fs.Path
      val cleanP = new Path(clean)
      val fs = cleanP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(cleanP), s"the consumed cleansed input $clean was left behind")
      val staging = new Path(cleanP.getParent, "fact-staging.parquet")
      assert(!fs.exists(staging), s"the staging root $staging was left behind")
    } finally spark.sql("DROP TABLE IF EXISTS lfb_call_sliced")
  }

  test("sliced fact build with compact=true folds to one cluster set in place") {
    ranOnce
    val unsliced = sortedRows("lfb_call")
    try {
      loadFact("lfb_call_compacted", FactLoad.Plan(3, compact = true))
      assert(sortedRows("lfb_call_compacted").sameElements(unsliced),
        "compacted sliced build diverged from the unsliced table")
      import org.apache.hadoop.fs.Path
      val meta = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier("lfb_call_compacted"))
      val loc = new Path(meta.location)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // one cluster set: at spec scale the canonical write is a single
      // range task, so each station dir holds exactly ONE file (the
      // un-compacted slices=3 table leaves one per non-empty slice)
      val dirs = fs.listStatus(loc).filter(s => s.isDirectory &&
        s.getPath.getName.startsWith("IncidentStationGround="))
      assert(dirs.nonEmpty, s"no partition dirs under $loc")
      dirs.foreach { d =>
        val files = fs.listStatus(d.getPath)
          .count(_.getPath.getName.endsWith(".parquet"))
        assert(files == 1,
          s"${d.getPath.getName} holds $files files after compaction")
      }
      // swap hygiene: neither the tmp copy nor the backup survives
      assert(!fs.exists(new Path(loc.getParent, loc.getName + ".compact-tmp")))
      assert(!fs.exists(new Path(loc.getParent, loc.getName + ".pre-compact")))
      // partition-pruned reads still resolve over the swapped metadata
      val st = spark.table("lfb_call_compacted")
        .select("IncidentStationGround").first().getString(0)
      assert(spark.table("lfb_call_compacted")
        .where(col("IncidentStationGround") === st).count() > 0)
      // a later overwrite load over the swapped table must still work
      // (the prepareManagedOverwrite + saveAsTable path sees a live,
      // partition-synced catalog entry)
      loadFact("lfb_call_compacted")
      assert(sortedRows("lfb_call_compacted").sameElements(unsliced),
        "overwrite over the compacted table diverged")
    } finally spark.sql("DROP TABLE IF EXISTS lfb_call_compacted")
  }

  test("compaction skips loudly when scratch is insufficient; sliced table stays") {
    ranOnce
    val unsliced = sortedRows("lfb_call")
    try {
      loadFact("lfb_call_noroom", FactLoad.Plan(3))
      // An impossible free-space demand forces the guard: compaction is
      // optional layout work, so it must return with the k-sliced
      // (correct, multi-cluster-set) table in place.
      assert(!FactLoad.compactInPlace(spark, "lfb_call_noroom", minFreeFactor = 1e12),
        "the scratch guard did not report the skipped pass")
      assert(sortedRows("lfb_call_noroom").sameElements(unsliced), "guard-skipped load diverged")
      // the sliced layout is still there: some station dir holds >1 file
      import org.apache.hadoop.fs.Path
      val meta = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier("lfb_call_noroom"))
      val loc = new Path(meta.location)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val maxFiles = fs.listStatus(loc)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("IncidentStationGround="))
        .map(d => fs.listStatus(d.getPath).count(_.getPath.getName.endsWith(".parquet")))
        .max
      assert(maxFiles > 1,
        s"expected the sliced multi-cluster-set layout to remain, max files/dir = $maxFiles")
    } finally spark.sql("DROP TABLE IF EXISTS lfb_call_noroom")
  }

  test("compaction residue from a crashed swap is healed by the next load") {
    ranOnce
    val unsliced = sortedRows("lfb_call")
    import org.apache.hadoop.fs.Path
    def plantResidue(table: String): (Path, Path, org.apache.hadoop.fs.FileSystem) = {
      // the REAL suffixes, via FactLoad's own path derivation
      val (_, tmp, bak, fs) = FactLoad.compactPaths(spark, table)
      for (p <- Seq(bak, tmp)) {
        fs.mkdirs(p)
        val o = fs.create(new Path(p, "stale.bin")); o.write(1); o.close()
      }
      (bak, tmp, fs)
    }
    try {
      // Arm 1 — compacting run over planted residue (the bak && loc state a
      // crashed cleanup leaves): the swap-landed recovery drops the backup
      // and the fresh compaction proceeds to the correct table.
      loadFact("lfb_call_heal", FactLoad.Plan(2, compact = true))
      val (bak1, tmp1, fs) = plantResidue("lfb_call_heal")
      loadFact("lfb_call_heal", FactLoad.Plan(2, compact = true))
      assert(!fs.exists(bak1) && !fs.exists(tmp1),
        "compacting run left crashed-swap residue behind")
      assert(sortedRows("lfb_call_heal").sameElements(unsliced),
        "healed compacting run diverged")

      // Arm 2 — non-compacting sliced load sweeps the residue after its
      // rebuild (the stale copies are dead weight once the table is fresh).
      val (bak2, tmp2, _) = plantResidue("lfb_call_heal")
      loadFact("lfb_call_heal", FactLoad.Plan(2))
      assert(!fs.exists(bak2) && !fs.exists(tmp2),
        "non-compacting load left crashed-swap residue behind")
    } finally spark.sql("DROP TABLE IF EXISTS lfb_call_heal")
  }

  test("compaction finishes a crashed swap from the complete tmp copy") {
    ranOnce
    val unsliced = sortedRows("lfb_call")
    import org.apache.hadoop.fs.Path
    val table = "lfb_call_swap"
    try {
      loadFact(table, FactLoad.Plan(2, compact = true))
      val (loc, tmp, bak, fs) = FactLoad.compactPaths(spark, table)
      def parquetFiles(dir: Path): Set[String] = {
        val it = fs.listFiles(dir, true)
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
          .filter(_.getName.endsWith(".parquet"))
          .map(_.toUri.getPath.stripPrefix(dir.toUri.getPath)).toSet
      }
      // the state a crash between the swap's two renames leaves: a
      // complete fresh copy at tmp, the old table at bak, no live dir
      graft.ops.Relational.compactClustered(spark.table(table), tmp.toString,
        "IncidentStationGround", Seq("DateOfCall", "NotionalCost"))
      val fresh = parquetFiles(tmp)
      assert(fresh.nonEmpty)
      assert(fs.rename(loc, bak))
      assert(FactLoad.compactInPlace(spark, table),
        "finishing the crashed swap must report the table as rewritten")
      assert(fs.exists(loc), "the swap was not finished")
      assert(!fs.exists(bak) && !fs.exists(tmp), "the swap left its backup or tmp copy")
      assert(parquetFiles(loc) == fresh,
        "the recovery rewrote the table again instead of adopting the tmp copy")
      assert(sortedRows(table).sameElements(unsliced), "recovered table diverged")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("count-drift marker pins the backup: compacting sweep refuses, non-compacting sweep keeps it") {
    ranOnce
    import org.apache.hadoop.fs.Path
    val table = "lfb_call_marker"
    val compacting = FactLoad.Plan(2, compact = true)
    try {
      loadFact(table, compacting)
      val (loc, _, bak, fs) = FactLoad.compactPaths(spark, table)
      val marker = FactLoad.compactInvalidMarker(loc)
      def plantProtected(): Unit = {
        fs.mkdirs(bak)
        val o = fs.create(new Path(bak, "good.bin")); o.write(1); o.close()
        fs.create(marker, true).close()
      }
      // 1. compacting re-run over bak+marker (the post-abort state):
      //    refuses loudly BEFORE touching the backup
      plantProtected()
      val e = intercept[IllegalArgumentException] { loadFact(table, compacting) }
      assert(e.getMessage.contains(".compact-invalid"),
        s"refusal must name the marker, got: ${e.getMessage}")
      assert(fs.exists(bak), "the sweep dropped the backup despite the marker")
      assert(fs.exists(marker), "the sweep consumed the marker")
      // 2. non-compacting re-run: succeeds (the rebuild is authoritative)
      //    but KEEPS the pinned backup for operator adjudication
      loadFact(table, FactLoad.Plan(2))
      assert(fs.exists(bak), "non-compacting sweep dropped the pinned backup")
      // 3. operator clears the marker -> the next sweep reclaims the backup
      fs.delete(marker, false)
      loadFact(table, FactLoad.Plan(2))
      assert(!fs.exists(bak), "sweep kept the backup after the marker was cleared")
      // 4. a stale marker with no backup left is cleared automatically
      fs.create(marker, true).close()
      loadFact(table, compacting)
      assert(!fs.exists(marker), "stale marker (no backup) was not cleared")
      assert(!fs.exists(bak))
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("direct-to-clean generator equals the CSV -> extract -> cleanse path") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dclean_")
    val n = 20000L
    val csv = dir.resolve("lfb.csv").toString
    val raw = dir.resolve("raw.parquet").toString
    val cleanA = dir.resolve("cleanA.parquet").toString
    val cleanB = dir.resolve("cleanB.parquet").toString
    Fixtures.writeScaledLfbSpark(spark, csv, n)
    Jobs.lfbExtract(spark, csv, raw)
    Jobs.lfbCleanse(spark, raw, cleanA)
    // Small edge window (1000 << n): at the default 100k the n=20000 run
    // degenerates to full-range inference — the SAMPLED-inference seam
    // (schema from two disjoint id-range edges, typing applied to the
    // full range) is exactly what this equality must pin.
    Fixtures.writeScaledLfbCleanSpark(spark, cleanB, n, edgeRows = 1000)
    val a = spark.read.parquet(cleanA)
    val b = spark.read.parquet(cleanB)
    assert(a.schema == b.schema,
      s"direct-clean schema drifted:\n${a.schema.treeString}\nvs\n${b.schema.treeString}")
    assert(b.count() == n)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "direct-clean corpus differs from the CSV-path cleanse output")
  }

  test("skewed corpus variant: Zipf hot station; default draw sequence untouched") {
    // skew only swaps the ward/station draws — everything drawn BEFORE
    // them (id, date, time, year) must be identical per row id, so the
    // skewed rung stays comparable to the uniform one date-wise.
    val u = Fixtures.scaledLfbRow(12345L).split(",")
    val z = Fixtures.scaledLfbRow(12345L, skew = true).split(",")
    assert(u.take(5).sameElements(z.take(5)), s"${u.take(5).toSeq} vs ${z.take(5).toSeq}")
    val dir = java.nio.file.Files.createTempDirectory("graft_skew_")
    val clean = dir.resolve("skew.parquet").toString
    Fixtures.writeScaledLfbCleanSpark(spark, clean, 20000L, skew = true)
    val byStation = spark.read.parquet(clean)
      .groupBy("IncidentStationGround").count()
      .orderBy(col("count").desc).collect()
    // Zipf(1.2) over 40 stations: rank-0 takes 1/H(40,1.2) ~ 0.30
    assert(byStation.head.getString(0) == "Station0",
      s"hot station should be rank 0, got ${byStation.head}")
    val share = byStation.head.getLong(1).toDouble / 20000
    assert(share > 0.22 && share < 0.40, s"hot-station share $share not Zipf(1.2)-shaped")
    // determinism: same n, same skew -> same corpus
    val clean2 = dir.resolve("skew2.parquet").toString
    Fixtures.writeScaledLfbCleanSpark(spark, clean2, 20000L, skew = true)
    val a = spark.read.parquet(clean); val b = spark.read.parquet(clean2)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("fact load fails fast: a sliced load prunes its consumed input") {
    // The guard fires before any staging work or deletion, so no pipeline
    // state is needed — dummy paths never get read.
    val gone = base.resolve("never-written.parquet").toString
    val e = intercept[IllegalStateException] {
      FactLoad.run(spark, gone, "location_type", "ward", "x", "y", "z", "t", FactLoad.Plan(2))
    }
    assert(e.getMessage.contains("prunes its consumed input"),
      s"re-entry failure must name the contract: ${e.getMessage}")
    // An unsliced load prunes nothing; the message points at the cleanse stage.
    val e2 = intercept[IllegalStateException] {
      FactLoad.run(spark, gone, "location_type", "ward", "x", "y", "z", "t")
    }
    assert(e2.getMessage.contains("cleanse"), e2.getMessage)
  }

  test("managed overwrite clears a stale location left by a dead JVM (resume seam)") {
    ranOnce
    // Simulate the crashed-run restart state: the managed-table directory
    // survives on disk but the in-memory catalog lost the entry, so an
    // overwrite-mode saveAsTable is a CREATE and refuses over the leftover
    // dir (LOCATION_ALREADY_EXISTS). prepareManagedOverwrite is the seam.
    import org.apache.hadoop.fs.Path
    val stale = new Path(
      new Path(spark.catalog.getDatabase("default").locationUri), "resume_probe")
    val fs = stale.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(stale)
    val orphan = fs.create(new Path(stale, "orphan.bin")); orphan.write(1); orphan.close()
    assert(!spark.catalog.tableExists("resume_probe"))
    Jobs.loadDimTable(spark, paths.dateDim, "resume_probe",
      Model.dateDimSchema.fields.map(f => f.name -> f.name).toSeq,
      partitionBy = None, clusterBy = Seq("Date"))
    val expected = spark.read.parquet(paths.dateDim).count()
    assert(spark.table("resume_probe").count() == expected)
    // The guard must never touch a LIVE table's data: with the catalog
    // entry present it is a no-op and the overwrite path owns replacement.
    graft.ops.Relational.prepareManagedOverwrite(spark, "resume_probe")
    assert(spark.table("resume_probe").count() == expected)
    spark.sql("DROP TABLE resume_probe")
  }

  test("batchSplit writes cumulative date-sliced CSV batches (batching/lfb-preprocess.py)") {
    ranOnce
    val out = java.nio.file.Files.createTempDirectory("graft_split_").toString
    // Fixture has 4 Jan-22 incidents + 2 Feb-22 incidents (FIXTURES.md);
    // split at 2022-02-01 -> {4}, at 2022-02-02 -> {5}, full -> {6}.
    Jobs.batchSplit(spark, Seq(inputs.lfbCsv), out, "DateOfCall", "dd-MMM-yy",
      Seq("2022-02-01", "2022-02-02"))
    def readBatch(i: Int) =
      spark.read.option("header", "true").csv(s"$out/$i")
    assert(readBatch(1).count() == 4)
    assert(readBatch(2).count() == 5)
    assert(readBatch(3).count() == 6)
    // batches are drop-in extract inputs: same columns, date format intact
    assert(readBatch(1).columns.toSet ==
      spark.read.option("header", "true").csv(inputs.lfbCsv).columns.toSet)
    val staged = java.nio.file.Files.createTempDirectory("graft_split_stage_")
      .resolve("lfb.parquet").toString
    Jobs.lfbExtract(spark, s"$out/1", staged)
    Jobs.lfbExtract(spark, s"$out/3", staged) // cumulative append: 4 -> 6
    assert(spark.read.parquet(staged).count() == 6)
    assert(spark.read.parquet(staged).where(col("DateOfCall").isNull).count() == 0)
  }

  test("loadDimTable cacheTable pins the table eagerly (K6 CACHE TABLE)") {
    ranOnce
    // Pipeline itself uncaches air_quality after the fact build; re-issue
    // the load directly to observe the cached state.
    Jobs.loadDimTable(spark, paths.aqClean, "aq_cached_probe",
      Model.aqDimColumns.map(c => c -> c), partitionBy = None,
      clusterBy = Seq("AirQualityKey"), dropCols = Seq("ReadingDateTime"),
      distinct = true, cacheTable = true)
    assert(spark.catalog.isCached("aq_cached_probe"))
    spark.sql("UNCACHE TABLE aq_cached_probe")
    spark.sql("DROP TABLE aq_cached_probe")
  }

  test("cumulative batches append only new incidents (reference batching/config.yaml)") {
    // batch 1 = the January incidents; batch 2 = the full cumulative file
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(inputs.lfbCsv))
    val batch1 = java.nio.file.Files.createTempFile("graft_batch1_", ".csv")
    java.nio.file.Files.write(batch1,
      java.util.List.copyOf(lines.subList(0, 5))) // header + 4 Jan rows
    val staged = java.nio.file.Files.createTempDirectory("graft_batch_out_")
      .resolve("lfb.parquet").toString
    Jobs.lfbExtract(spark, batch1.toString, staged)
    assert(spark.read.parquet(staged).count() == 4)
    Jobs.lfbExtract(spark, inputs.lfbCsv, staged)
    val all = spark.read.parquet(staged)
    assert(all.count() == 6)
    assert(all.select("IncidentNumber").distinct().count() == 6)
  }
}
