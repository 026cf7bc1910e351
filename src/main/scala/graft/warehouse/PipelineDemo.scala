package graft.warehouse

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** The one warehouse runner: writes synthetic inputs (the 6-row
  * correctness fixture, or `--rows n` for a scaled corpus over ~600 wards /
  * 3 years), runs the DAG (extract -> cleanse -> dims -> fact -> aggregates
  * with every quality gate) and prints the fact table and aggregates. As
  * the reference's Airflow tasks differ only by arguments, every mode is a
  * flag, checked by the pure [[parse]] before any session or file exists:
  *
  * {{{
  * runMain graft.warehouse.PipelineDemo [workDir] [--rows n] [--from stage]
  *   [--chunks k] [--direct-clean [--skew]] [--slices k [--compact]]
  * }}}
  *
  *  - `--from <stage>` re-enters the DAG at a [[Pipeline.stageOrder]]
  *    boundary over an existing workDir, reading the staging parquet the
  *    earlier run left (the in-process form of an Airflow task retry).
  *  - `--chunks k` extracts the corpus in k slices ([[chunkedExtract]]).
  *  - `--direct-clean [--skew]` synthesizes the cleansed LFB parquet and
  *    enters at "dimension builds" ([[directClean]]).
  *  - `--slices k [--compact]` is the fact load's [[FactLoad.Plan]]: k
  *    pruned slices, then optionally one in-place compaction. The plan is
  *    an argument of this run only, so a cross-JVM resume passes the same
  *    flags again.
  */
object PipelineDemo {

  /** One invocation, as [[parse]] read it. */
  final case class Run(workDir: Option[String] = None, rows: Option[Int] = None,
                       from: Option[String] = None, chunks: Option[Int] = None,
                       directClean: Boolean = false, skew: Boolean = false,
                       plan: FactLoad.Plan = FactLoad.Plan())

  private val Usage =
    "usage: graft.warehouse.PipelineDemo [workDir] [--rows n] [--from stage] " +
      "[--chunks k] [--direct-clean [--skew]] [--slices k [--compact]]"

  /** Pure argument parser: tokens are read by position, so a workDir that
    * equals a flag's value is kept. Throws `IllegalArgumentException` on an
    * unknown flag, a flag without its value, a count that is not an
    * integer >= 1, an unknown stage or an illegal flag combination. */
  def parse(args: Seq[String]): Run = {
    def fail(msg: String): Nothing = throw new IllegalArgumentException(s"$msg\n$Usage")
    def count(flag: String, v: String): Int = {
      val n = v.toIntOption.getOrElse(fail(s"$flag must be an integer, got '$v'"))
      if (n < 1) fail(s"$flag must be at least 1, got $n")
      n
    }
    val valueFlags = Set("--rows", "--from", "--chunks", "--slices")
    var slices = 1
    var compact = false
    @annotation.tailrec
    def go(rest: List[String], run: Run): Run = rest match {
      case Nil => run
      case f :: Nil if valueFlags(f) => fail(s"$f needs a value")
      case "--rows" :: v :: t => go(t, run.copy(rows = Some(count("--rows", v))))
      case "--chunks" :: v :: t => go(t, run.copy(chunks = Some(count("--chunks", v))))
      case "--slices" :: v :: t => slices = count("--slices", v); go(t, run)
      case "--from" :: s :: t =>
        if (!Pipeline.stageOrder.contains(s)) fail(
          s"unknown stage '$s'; stages: ${Pipeline.stageOrder.mkString(", ")}")
        go(t, run.copy(from = Some(s)))
      case "--direct-clean" :: t => go(t, run.copy(directClean = true))
      case "--skew" :: t => go(t, run.copy(skew = true))
      case "--compact" :: t => compact = true; go(t, run)
      case f :: _ if f.startsWith("--") => fail(s"unknown flag '$f'")
      case d :: t =>
        run.workDir.foreach(w => fail(s"more than one workDir: '$w' and '$d'"))
        go(t, run.copy(workDir = Some(d)))
    }
    val parsed = go(args.toList, Run())
    val run = parsed.copy(plan =
      try FactLoad.Plan(slices, compact)
      catch { case e: IllegalArgumentException =>
        fail(s"--compact needs --slices k (${e.getMessage})") })
    def needs(ok: Boolean, msg: String): Unit = if (!ok) fail(msg)
    run.chunks.foreach { k =>
      needs(run.rows.isDefined, "--chunks needs --rows")
      // More chunks than rows would generate and "extract" empty slices.
      needs(k <= run.rows.get, s"--chunks ($k) must not exceed --rows (${run.rows.get})")
      needs(run.from.isEmpty && !run.directClean,
        "--chunks cannot be combined with --from or --direct-clean")
    }
    if (run.directClean) {
      needs(run.rows.isDefined, "--direct-clean needs --rows")
      needs(run.from.isEmpty, "--direct-clean cannot be combined with --from")
    }
    needs(!run.skew || run.directClean, "--skew needs --direct-clean")
    needs(run.workDir.isDefined || (run.chunks.isEmpty && !run.directClean),
      "--chunks and --direct-clean need an explicit workDir")
    run
  }

  /** The warehouse runs' session, `Sessions`' [[graft.Sessions.Scaled]]
    * profile over `base`, shared with `Probe compact` and the perfbench
    * `lfb_dag` workload so a large rung and a `--from` resume size
    * themselves identically. `SPARK_GRAFT_CPUS` sets the cores of a run
    * with `rows` (default 16); the 6-row fixture runs on 4.
    */
  private[graft] def buildSession(base: Path,
                                  rows: Option[Int],
                                  fromMarker: Boolean): SparkSession = {
    val cores =
      if (rows.isDefined)
        sys.env.get("SPARK_GRAFT_CPUS").map(v => v.toIntOption.getOrElse(
          sys.error(s"SPARK_GRAFT_CPUS must be an integer, got '$v'")).toString)
          .getOrElse("16")
      else "4"
    val spark = graft.Sessions.session(cores, scaled = Some(graft.Sessions.Scaled(base, rows)))
    println(s"== session local[$cores], shuffle partitions " +
      spark.conf.get("spark.sql.shuffle.partitions") +
      rows.fold("")(n => s", sized for $n rows" +
        (if (fromMarker) " (from workDir .rows marker)" else "")))
    spark
  }

  /** Writes the workDir's `.rows` marker: a scaled run records its row
    * count so a later resume (`--from`, `Probe compact`) sizes its session
    * like the original run did instead of falling back to the tiny-fixture
    * profile (local[4], 4 shuffle partitions), which would hand a 150M-row
    * retry ~37M wide rows per task — the spill cliff resuming exists to get
    * past. */
  private[graft] def writeRowsMarker(base: Path, rows: Int): Unit =
    Files.write(base.resolve(".rows"), rows.toString.getBytes("UTF-8"))

  /** The workDir's `.rows` marker, or None when it has none. */
  private[graft] def readRowsMarker(base: Path): Option[Int] =
    Some(base.resolve(".rows")).filter(Files.exists(_)).map { marker =>
      val text = new String(Files.readAllBytes(marker), "UTF-8").trim
      text.toLongOption.filter(r => r >= 1 && r <= Int.MaxValue).getOrElse(
        throw new IllegalStateException(
          s"$marker holds '$text', not a row count in 1..${Int.MaxValue}")).toInt
    }

  /** Corpus generation + extract in `chunks` slices, for rungs whose CSV
    * cannot fit on disk at once (a 500M CSV is ~130 GB; SCALE.md round
    * 15-16). Each slice runs the landing-zone lifecycle of a shared-storage
    * deployment: generate ids `[c·per, (c+1)·per)` in parallel ->
    * `Jobs.lfbExtract` (the K2 anti-join append; slice ids are disjoint,
    * so the appends are exact) -> prune the consumed CSV. Peak CSV on disk
    * is one slice; the raw parquet is the only artifact that accumulates.
    * The grid-bounded aux inputs are written and extracted once, which
    * completes the "extract" stage.
    */
  private[warehouse] def chunkedExtract(spark: SparkSession, base: Path,
                                        paths: Pipeline.Paths, rows: Int,
                                        chunks: Int): Pipeline.Inputs = {
    val inputs = Fixtures.writeScaledAux(base)
    val per = math.ceil(rows.toDouble / chunks).toLong
    val csv = base.resolve("lfb-calls.csv")
    for (c <- 0 until chunks) {
      val start = c * per
      val cnt = math.min(per, rows.toLong - start)
      val t0 = System.nanoTime()
      Fixtures.writeScaledLfbSpark(spark, csv.toString, cnt, startId = start)
      val tGen = secsSince(t0)
      val t1 = System.nanoTime()
      Jobs.lfbExtract(spark, csv.toString, paths.lfbRaw)
      graft.ops.InterStage.deleteRecursively(csv.toFile) // extract was the only reader
      println(f"== chunk ${c + 1}/$chunks [$start, ${start + cnt}): " +
        f"generate $tGen%.1f s, extract+append ${secsSince(t1)}%.1f s, " +
        f"free disk ${freeGb(base)}%.1f GB")
    }
    extractAux(spark, inputs, paths)
    inputs
  }

  /** The extract stage's three grid-bounded aux extracts. */
  private def extractAux(spark: SparkSession, inputs: Pipeline.Inputs,
                         paths: Pipeline.Paths): Unit = {
    Jobs.aqExtract(spark, inputs.aqCsvs, paths.aqRaw)
    Jobs.extract(spark, inputs.weatherCsv, paths.weatherRaw, Seq("date"))
    Jobs.extract(spark, inputs.wbCsv, paths.wbRaw, Seq("Ward", "Year"))
  }

  /** Fact-stage-only rungs past the full-lifecycle disk ceiling (SCALE.md
    * r16-r17): stage the aux inputs raw -> clean exactly as the DAG does,
    * then synthesize the CLEANSED LFB parquet directly
    * (`Fixtures.writeScaledLfbCleanSpark`: no CSV or raw parquet ever on
    * disk, spec-pinned equal to the CSV -> extract -> cleanse path). The
    * DAG then enters at "dimension builds", so every later stage and gate
    * runs exactly as in the full pipeline.
    */
  private def directClean(spark: SparkSession, base: Path, paths: Pipeline.Paths,
                          rows: Int, skew: Boolean): Pipeline.Inputs = {
    val inputs = Fixtures.writeScaledAux(base)
    extractAux(spark, inputs, paths)
    Jobs.aqCleanse(spark, paths.aqRaw, paths.aqClean)
    Jobs.weatherCleanse(spark, paths.weatherRaw, paths.weatherClean)
    Jobs.wbCleanse(spark, paths.wbRaw, paths.wbClean)
    val t0 = System.nanoTime()
    Fixtures.writeScaledLfbCleanSpark(spark, paths.lfbClean, rows, skew = skew)
    println(f"== direct-clean corpus $rows%,d rows" +
      (if (skew) " (Zipf station/ward)" else "") +
      f" ${secsSince(t0)}%.1f s, free disk ${freeGb(base)}%.1f GB")
    inputs
  }

  /** Committer shape of the fact table: the top station dirs by bytes (is
    * a hot station's dir one writer's funnel?) and files per write task.
    * Under `--compact` the files come from the ONE compaction job unless
    * the scratch guard skipped the pass, so the number of jobs is read
    * from the files themselves: distinct write-job UUIDs in the part-file
    * names (r19: a guard-skip run had mislabeled its 4-append layout). */
  private def reportFactLayout(base: Path, factRows: Long, plan: FactLoad.Plan): Unit = {
    val dirs = Option(base.resolve("warehouse/lfb_call").toFile.listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("IncidentStationGround="))
    val files = dirs.map(d => d -> d.listFiles().filter(_.getName.endsWith(".parquet")))
    val bytes = files.map { case (d, fs) => (d.getName, fs.length, fs.map(_.length()).sum) }
      .sortBy(-_._3)
    val totalBytes = math.max(bytes.map(_._3).sum, 1L)
    bytes.take(3).foreach { case (name, nf, b) =>
      println(f"==   top dir $name: $nf files, ${b / 1e9}%.2f GB " +
        f"(${100.0 * b / totalBytes}%.1f%% of table)")
    }
    val totalFiles = bytes.map(_._2).sum
    val writeJobs = files.flatMap(_._2).map(_.getName
      .replaceFirst("^part-\\d+-", "").replaceFirst("-c\\d.*$", "")).distinct.length
    val compacted = plan.compact && writeJobs == 1
    if (plan.compact && !compacted)
      println(s"==   compaction was requested but $writeJobs write-job UUIDs are " +
        "live — the scratch guard skipped the pass (see the SKIPPED warn " +
        "above); reporting the slice-append shape")
    val tasks =
      if (compacted) graft.ops.Relational.rowSizedPartitions(factRows)
      else plan.slices * graft.ops.Relational.rowSizedPartitions(factRows / plan.slices)
    println(f"== fact committer: $totalFiles files over ${dirs.length} station " +
      f"dirs (${totalFiles.toDouble / math.max(dirs.length, 1)}%.1f/dir), " +
      f"~$tasks write tasks in ${if (compacted) 1 else plan.slices} " +
      (if (compacted) "compaction job(s) = " else "job(s) = ") +
      f"${totalFiles.toDouble / tasks}%.2f files/task")
  }

  private def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def freeGb(base: Path): Double = base.toFile.getUsableSpace / 1e9

  def main(args: Array[String]): Unit = {
    val run = parse(args.toSeq)
    val base = run.workDir.map(Paths.get(_))
      .getOrElse(Files.createTempDirectory("graft_pipeline_"))
    Files.createDirectories(base)
    // Written for EVERY explicit --rows, resume or not: `--rows` on a
    // resume is an explicit re-size declaration and PERSISTS, so a later
    // --from-only resume never sizes itself from a stale marker.
    run.rows.foreach(n => writeRowsMarker(base, n))
    val rows = run.rows.orElse(run.from.flatMap(_ => readRowsMarker(base)))
    val spark = buildSession(base, rows, fromMarker = rows.isDefined && run.rows.isEmpty)
    val paths = Pipeline.Paths(base.resolve("staging").toString)
    val t0 = System.nanoTime()
    val (inputs, fromStage) = (run.chunks, run.from) match {
      case (Some(k), _) =>
        chunkedExtract(spark, base, paths, rows.get, k) -> "post-extract checks"
      case _ if run.directClean =>
        directClean(spark, base, paths, rows.get, run.skew) -> "dimension builds"
      // Resume: the earlier run already wrote the inputs (and may have
      // pruned the consumed CSVs — fine, the skipped stages are their only
      // readers). Rebind by naming convention.
      case (None, Some(stage)) =>
        import scala.jdk.CollectionConverters._
        val aq = Files.list(base).iterator().asScala
          .filter(p => p.getFileName.toString.matches("aq-.*\\.csv"))
          .map(_.toString).toSeq.sorted
        Pipeline.Inputs(base.resolve("lfb-calls.csv").toString, aq,
          base.resolve("weather.csv").toString,
          base.resolve("well-being.csv").toString) -> stage
      case (None, None) =>
        rows.fold(Fixtures.write(base))(n => Fixtures.writeScaled(base, n, Some(spark))) ->
          "extract"
    }
    val t1 = System.nanoTime()
    val stageTimes = Pipeline.run(spark, inputs, paths, fromStage, run.plan)
    println(f"== pipeline wall-clock: ${secsSince(t1)}%.1f s " +
      f"(${secsSince(t0)}%.1f s with input generation)")
    stageTimes.foreach { case (s, t) => println(f"==   stage $s%-20s $t%7.1f s") }

    val factRows = spark.table("lfb_call").count()
    println(s"== fact lfb_call: $factRows rows")
    if (run.directClean || run.plan.slices > 1) reportFactLayout(base, factRows, run.plan)
    println(f"== free disk ${freeGb(base)}%.1f GB")
    spark.table("lfb_call").show(10, truncate = false)
    for (t <- Seq("per_month", "per_ward", "types_per_ward", "per_location_type")) {
      println(s"== analytics.$t")
      spark.table(s"analytics.$t").show(5, truncate = false)
    }
    spark.stop()
  }
}
