package graft

import java.nio.file.{Files, Paths}

/** Benchmark main: runs every registered gate query against
  * `SPARK_GRAFT_SF_DIR` and reports per-query and total wall-clock
  * seconds. `count()` forces full execution of each plan.
  *
  * Two artifacts, because the harness that captures stdout keeps only its
  * tail (~2000 chars — BENCH_r01..r10 all carry a truncated line and a
  * null `parsed`):
  *   - stdout: ONE compact JSON line, guaranteed to fit the tail window —
  *     every query is present under its shortest-unique-prefix key with
  *     millisecond precision, so the captured artifact is complete and
  *     machine-parseable on its own;
  *   - `bench_full.json` (or `$SPARK_GRAFT_BENCH_FULL`): the full
  *     per-query median/min/max + sentinel re-runs under full names, with
  *     a run timestamp — the self-verifying record the compact line's
  *     `detail` field points at.
  *
  * Contention sentinel: wall-clock on a shared machine can triple a
  * query's number while the code is unchanged (round 10: tp1 benched
  * 4.4 s, clean re-measure 1.7 s). If `bench_reference.json` (committed,
  * per-query reference seconds from the last clean round) is present, any
  * query whose MIN exceeds 2× its reference re-runs up to 3× (best-of,
  * early-exit on the first clearing run) after the whole suite has
  * finished and all numbers are recorded — a real regression reproduces
  * across re-runs; contention doesn't survive three. The verdict is written
  * BACK into the artifacts (round 12's was internally inconsistent —
  * `queries` kept 17 contention-polluted firsts that `failed: []` said
  * were cleared): per-query `adj` and the compact line's `queries`/`value`
  * carry the adjudicated numbers (cleared re-run substituted, flagged
  * first otherwise); first-run median/min/max + `rerun` stay as evidence;
  * re-runs still > 2× are named in `sentinelFailed`. Keys starting with
  * `_` in the reference file are metadata (machine state of the
  * rebaseline run), not query references; `_canary` among them is the
  * committed reference for the CPU-bound drift canary timed in the
  * preamble (reported as `canary`/`canaryDrift` — uniform elevation that
  * tracks the canary is machine state, not a code regression).
  *
  * Two consumers, two totals. The primary metric (`value`, per-query
  * medians) uses `count()` — comparable across every prior round, but
  * Catalyst prunes expressions no downstream consumes, so pure-projection
  * plans (scd2's JSON extract + windows, w3's RANGE frame) bench their
  * scan, not their work. A second one-shot pass per query therefore runs
  * `queryExecution.toRdd.count()` — executing the UNOPTIMIZED-away output
  * projection, every column materialized, no type restrictions — and is
  * reported as `fullTotal` (compact line) and per-query `full`
  * (bench_full.json). Regressions adjudicate against the primary metric;
  * capacity planning reads the full one.
  */
object Bench {
  /** Canary-normalized contention-sentinel bar: 2× reference, scaled by
    * the measured machine drift within [1.0, 1.5]. Pure so BenchRefSpec
    * can pin the band: no drift reading keeps the raw 2× bar; a fast box
    * never tightens it; ambient slowness loosens it at most to 3×.
    *
    * Normalizes on the WORST of the supplied drift axes (CPU and
    * shuffle-write — r19 diagnosis: a back-to-back pair on one quiet box
    * read Σmins +19% with the CPU canary +8% and the read-side canary
    * FLAT, the swing concentrated in shuffle-heavy gates; a write-side
    * elevation the CPU bar can't see produced r18's 31 official sentinel
    * re-runs and both of its false `sentinelFailed` marks).
    */
  private[graft] def normalizedBar(drifts: Option[Double]*): Double = {
    val worst = drifts.flatten.maxOption
    2.0 * worst.map(d => math.min(math.max(d, 1.0), 1.5)).getOrElse(1.0)
  }

  /** True when any measured drift axis exceeds the bar's 1.5× cap: the
    * machine is slower than the sentinel can compensate for, so flags
    * from such a run are machine-state evidence, not code evidence —
    * the artifact must say so itself (r19: a session window read
    * ioDrift 4.25× — a run there would stamp sentinelFailed on healthy
    * gates, and r18's two false flags cost a round of adjudication).
    */
  private[graft] def ambientBeyondCap(drifts: Option[Double]*): Boolean =
    drifts.flatten.exists(_ > 1.5)

  /** MIN of 3 runs of the CPU-bound drift canary (deterministic generated
    * input, codegen'd hash chain, no I/O): moves with ambient machine
    * state, cannot move with repo code changes. Shared with `Probe query` so
    * single-query adjudications carry the same drift reading the full
    * bench does.
    */
  private[graft] def measureCanary(spark: org.apache.spark.sql.SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 1L << 29, 1L, 32)
        // bit_xor, not sum: an ANSI-mode sum of 2^29 uniform longs overflows
        .selectExpr("bit_xor(xxhash64(id, xxhash64(id + 7, id * 31)))")
        .collect()
      (System.nanoTime() - t0) / 1e9
    }
    (1 to 3).map(_ => once()).min
  }

  /** MIN of 3 runs of the shuffle-side drift canary: generated input
    * (dataset-free, like the CPU canary) hash-repartitioned through a
    * real exchange — ~16.7M rows × 16 B ≈ 270 MB of shuffle files written
    * to and read back from the local scratch disk. This is the third
    * drift axis: the CPU canary never leaves registers/caches and the
    * I/O canary's min converges to the page-warm READ number, so neither
    * moves when the host's WRITE latency degrades — which is exactly the
    * state the r19 back-to-back pair caught (Σmins +19%, shuffle-heavy
    * gates +50%, scan-only gates flat, both existing canaries quiet).
    * Reference key `_shuffleCanary`; reported as `shuffleCanary`/
    * `shuffleDrift`, and the sentinel bar normalizes on the worst of the
    * CPU and shuffle drifts (see [[normalizedBar]]).
    */
  private[graft] def measureShuffleCanary(spark: org.apache.spark.sql.SparkSession): Double = {
    import org.apache.spark.sql.functions.col
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 1L << 24, 1L, 32)
        .select((col("id") * 2654435761L).as("k"), col("id").as("v"))
        .repartition(64, col("k"))
        .selectExpr("bit_xor(xxhash64(k, v))")
        .collect()
      (System.nanoTime() - t0) / 1e9
    }
    (1 to 3).map(_ => once()).min
  }

  /** MIN of 3 full-column scans of the largest table — the I/O-side drift
    * canary the CPU-bound one structurally cannot provide (r18 round-end
    * lesson: a 1.3× uniform elevation at CPU drift 1.014 — page-cache /
    * memory-bandwidth state). The min converges to the page-warm
    * (memory-bandwidth) number, so it is deterministic across runs on the
    * same box and moves only with ambient memory/I/O pressure. Recorded
    * as `ioCanary`/`ioDrift` (reference key `_ioCanary`); diagnostic
    * only — the sentinel bar stays CPU-normalized until a round decides
    * otherwise with this data in hand.
    */
  private[graft] def measureIoCanary(spark: org.apache.spark.sql.SparkSession,
                                     sfDir: String): Option[Double] =
    try {
      def once(): Double = {
        val t0 = System.nanoTime()
        spark.read.parquet(s"$sfDir/lineitem.parquet")
          .selectExpr("sum(l_orderkey)", "sum(l_extendedprice)",
            "sum(l_quantity)", "sum(length(l_returnflag))",
            "count(distinct l_shipdate)").collect()
        (System.nanoTime() - t0) / 1e9
      }
      Some((1 to 3).map(_ => once()).min)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] I/O canary failed: ${e.getMessage}")
      None
    }

  /** A committed canary reference (idle-machine) — `_canary` (CPU) or
    * `_ioCanary` (I/O) — if a readable reference file exists at `path`.
    */
  private[graft] def canaryReference(path: String,
                                     key: String = "_canary"): Option[Double] =
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path))) None
    else try {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
        .readValue(java.nio.file.Files.readString(java.nio.file.Paths.get(path)),
          classOf[java.util.Map[String, Object]])
      m.get(key) match {
        case n: Number if n.doubleValue() > 0 => Some(n.doubleValue())
        case _ => None
      }
    } catch { case _: Throwable => None }

  /** A string metadata key from the reference file — `_ioCanarySf` (the
    * sfDir the `_ioCanary` reference was stamped against; the I/O canary
    * scans a DATASET, so a drift ratio computed under a different sfDir
    * is silently meaningless, unlike the generated-input CPU canary).
    */
  private[graft] def referenceMetaString(path: String, key: String): Option[String] =
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path))) None
    else try {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
        .readValue(java.nio.file.Files.readString(java.nio.file.Paths.get(path)),
          classOf[java.util.Map[String, Object]])
      m.get(key) match {
        case s: String if s.nonEmpty => Some(s)
        case _ => None
      }
    } catch { case _: Throwable => None }

  /** Whether an `_ioCanary` drift may be computed: the committed stamp
    * (`_ioCanarySf`) must name the sfDir the current run reads, or be
    * absent (pre-stamp reference files — computed for back-compat, but
    * the stamp is required by BenchRefSpec once committed).
    */
  private[graft] def ioRefMatches(stamp: Option[String], sfDir: String): Boolean =
    stamp.forall(_ == sfDir)

  /** Whether reference-derived ratios may be computed at all: the file's
    * `_refCpus` stamp (absent = pre-r22 file, treated as matching) must
    * equal this run's SPARK_GRAFT_CPUS. The canaries are parallel
    * workloads, so a ratio across core counts fabricates "drift" from
    * the core ratio alone — shared by Bench's main and the dev probes
    * (`Probe query` prints raw canary seconds either way).
    */
  private[graft] def refCpusMatches(refPath: String): Boolean =
    canaryReference(refPath, "_refCpus").forall(rc =>
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toIntOption.contains(rc.toInt))

  private[graft] def j3(d: Double): String =
    BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  /** 10 ms precision for the compact line's per-query values — full
    * precision is always in bench_full.json; the compact line only needs
    * enough digits to adjudicate (sentinel bars are 2-3x). */
  private[graft] def j2(d: Double): String =
    BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString

  /** Width-bounded per-query rendering for the compact line: 10 ms
    * precision below 10 s, 100 ms at 10-100 s — ≤ 4 chars for every value
    * under 99.95 s, keeping the full-name line's length a function of the
    * registry's NAMES alone (BenchRefSpec pins the worst case under the
    * 5k sanity cap), even for the adjudicated MEDIANS of an
    * ambient-beyond-cap run (the sentinel bounds mins, not medians — a
    * contended run's medians pass through unclamped). */
  private[graft] def jq(d: Double): String =
    if (d < 9.995) j2(d)
    else BigDecimal(d).setScale(1, BigDecimal.RoundingMode.HALF_UP).toString

  /** Compact stdout line — the driver contract line: ONE JSON object with
    * `metric`/`value`/`unit`/`queries`/`sf`, where `queries` maps FULL
    * query names to adjudicated median seconds. Full names are the
    * contract (r21 PERF came back with `n_common: 0` — the driver could
    * not match the r12–r21 shortest-unique-prefix keys back to query
    * names, which blinded its per-query and scaling comparison; restored
    * r22). At nq=132 the line runs ~3.6k chars, past the harness's
    * ~2,000-char stdout TAIL window — deliberate, and the only winnable
    * configuration: 132 full names CANNOT fit 2k chars (Σ name lengths
    * alone is 2.3k), and the artifact record rules out the tail-only
    * parser anyway — r01–r10 (full names, tail-truncated) AND r12–r21
    * (short keys, line COMPLETE inside the tail) all came back
    * `parsed: null`, so a parser that reads only the tail has never
    * succeeded under either format and cannot succeed with names at all.
    * The bet is therefore on the full stdout stream, where the line is
    * complete and, with the raw outputStrategy in build.sbt, un-prefixed
    * (the `[info] ` decoration was the one constant across every failed
    * round). The tail still keeps the END of the line as human
    * diagnostics. Key legend, abbreviated
    * (values still 10 ms precision via [[jq]]): raw/fullT = Σ first-run
    * medians + materialize / Σ full-materialization passes; can = CPU
    * canary seconds (drift/ioDrift/shDrift = the three ambient axes vs
    * bench_reference.json, omitted when no reference); mat = materialize
    * seconds; sent/sr/sentF = sentinel flagged / total best-of-3 attempts
    * (omitted on a clean run) / still-failed; ung = registered gates the
    * reference file can't guard (-1 = sentinel off); fail = query names
    * that errored. */
  private[graft] def compactLine(
      adjTotal: Double, rawTotal: Double, fullTotal: Double, runs: Int,
      canarySec: Double, drift: Option[Double], ioDrift: Option[Double],
      shuffleDrift: Option[Double], ambient: Boolean, materializeSec: Double,
      nq: Int, detail: String, sentinel: Int, sentinelRuns: Option[Int],
      sentinelFailed: Int, unguarded: Int, failedJson: String, sfDir: String,
      qs: String): String =
    s"""{"metric":"total","value":${j3(adjTotal)},"unit":"sec","runs":$runs,""" +
      s""""raw":${j3(rawTotal)},"fullT":${j3(fullTotal)},""" +
      s""""can":${j3(canarySec)},"drift":${drift.map(j3).getOrElse("null")},""" +
      ioDrift.map(d => s""""ioDrift":${j3(d)},""").getOrElse("") +
      shuffleDrift.map(d => s""""shDrift":${j3(d)},""").getOrElse("") +
      (if (ambient) s""""ambient":true,""" else "") +
      s""""mat":${j3(materializeSec)},"nq":$nq,""" +
      s""""keys":"full","det":"$detail",""" +
      s""""sent":$sentinel,""" +
      sentinelRuns.map(n => s""""sr":$n,""").getOrElse("") +
      s""""sentF":$sentinelFailed,""" +
      s""""ung":$unguarded,""" +
      s""""fail":$failedJson,"sf":"$sfDir","queries":$qs}"""

  /** Sentinel re-run, best-of-N: run `attempt` up to `max` times, stopping
    * early at the first run that clears `bar`; adjudicate on the MIN of
    * the successful runs (for a fixed workload the minimum is the
    * contention-robust statistic — r18's two `sentinelFailed` marks both
    * came from a SINGLE contended re-run on a box running 2.3x slow).
    * Returns (min of ok runs, or -1 if every attempt crashed; attempts
    * taken).
    */
  private[graft] def rerunBestOf(bar: Double, max: Int)
                                (attempt: () => (Double, Boolean)): (Double, Int) = {
    val runs = scala.collection.mutable.ArrayBuffer[(Double, Boolean)]()
    var cleared = false
    while (runs.size < max && !cleared) {
      val r = attempt()
      runs += r
      cleared = r._2 && r._1 <= bar
    }
    val ok = runs.collect { case (t, true) => t }
    (if (ok.nonEmpty) ok.min else -1.0, runs.size)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val startedAt = java.time.Instant.now().toString
    val t00 = System.nanoTime()
    // JIT/codegen warmup so the first measured query doesn't absorb
    // session startup (scheduler, codegen compiler, parquet footer reads).
    spark.range(1000).selectExpr("sum(id)").collect()
    Tables.all.foreach(t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").limit(1).count()
      catch { case _: Throwable => () })
    // Machine-drift canary: a fixed CPU-bound workload — deterministic
    // generated input, codegen'd hash chain, no I/O — timed before any
    // query runs. Its committed reference lives in bench_reference.json
    // under `_canary` (metadata key, not a query), so a round's sentinel
    // adjudication can normalize "every query is uniformly ~1.2× up" by
    // the canary's drift instead of arguing from run history: the canary
    // moves with ambient machine state (CPU contention, thermal/steal
    // time) and CANNOT move with repo code changes. MIN of 3 — for a
    // fixed workload the minimum is the contention-robust statistic.
    val canarySec = measureCanary(spark)
    // The shuffle and I/O canaries run AFTER the timed phases (below,
    // before the artifact writes): both measure session-ambient state, so
    // ordering doesn't invalidate them — but running them HERE perturbed
    // the phases they exist to adjudicate. The I/O canary's 3 full
    // lineitem scans warmed the page cache for the materialize phase
    // (making every post-r18 materialize reading systematically faster
    // than every prior round for a non-code reason), and the shuffle
    // canary's ~270 MB shuffle write + JIT warm preceded materialize the
    // same way from r18 until r20 moved it. Nothing before the
    // sentinel-bar computation needs either value.

    // Shared inter-stage tables (shingle index, signatures, bucketed
    // embeddings) are built once here and timed as their own phase, so
    // per-query numbers don't depend on registry order.
    val tMat0 = System.nanoTime()
    val matOk =
      try { SparkEntry.preMaterialize(spark, sfDir); true }
      catch { case e: Throwable =>
        System.err.println(s"[bench] materialize FAILED: ${e.getMessage}"); false
      }
      finally spark.sharedState.cacheManager.clearCache()
    val materializeSec = (System.nanoTime() - tMat0) / 1e9

    def timeOnce(name: String, fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false
        }
        // Queries materialize/persist intermediates; drop cached blocks
        // even on failure so one broken query can't degrade the rest.
        finally spark.sharedState.cacheManager.clearCache()
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    // Median of 3 runs per query: single-run timings on sub-3-second
    // queries swing 2-3x with JIT, GC and scheduler noise, which made
    // round-over-round comparisons unadjudicable; the median damps the
    // outlier without hiding a real regression.
    val Runs = 3
    val results = SparkEntry.registry.map { case (name, q) =>
      val runs = (1 to Runs).map(_ => timeOnce(name, q.fn))
      val times = runs.map(_._1).sorted
      (name, times(Runs / 2), times.head, times.last, runs.forall(_._2))
    }

    // Full-materialization pass (see scaladoc): one shot per query.
    def timeFull(name: String, fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).queryExecution.toRdd.count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name full-pass FAILED: ${e.getMessage}"); false
        }
        finally spark.sharedState.cacheManager.clearCache()
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    val fulls = SparkEntry.registry.map { case (name, q) => name -> timeFull(name, q.fn) }
    val fullFailed = fulls.collect { case (k, (_, false)) => k + ":full" }

    // Write-side then read-side drift canaries, timed after every phase
    // whose number the artifacts track (see the note at the CPU canary
    // above). Shuffle first, I/O LAST — the same ordering `Probe query`
    // pins: the I/O canary's lineitem scans re-warm the page cache, so
    // anything timed after it reads a warmer box than the phases did.
    val shuffleCanarySec = measureShuffleCanary(spark)
    val ioCanarySec = measureIoCanary(spark, sfDir)

    // Contention sentinel (see scaladoc): reference seconds per query from
    // the committed last-clean-round file; absent file = sentinel off.
    val refPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_REF", "bench_reference.json")
    val refsAll: Map[String, Double] =
      if (!Files.exists(Paths.get(refPath))) Map.empty
      else try {
        val m = new com.fasterxml.jackson.databind.ObjectMapper()
          .readValue(Files.readString(Paths.get(refPath)),
            classOf[java.util.Map[String, Object]])
        import scala.jdk.CollectionConverters._
        m.asScala.collect {
          case (k, v: Number) => k -> v.doubleValue()
        }.toMap
      } catch { case e: Throwable =>
        System.err.println(s"[bench] reference unreadable ($refPath): ${e.getMessage}")
        Map.empty[String, Double]
      }
    // Keys starting with `_` are metadata, not query references; `_canary`
    // is the canary's committed idle-machine reference.
    val refs: Map[String, Double] =
      refsAll.filter { case (k, _) => !k.startsWith("_") }
    // Every committed reference — per-gate seconds AND all three canaries —
    // is a reading at a specific core count (`_refCpus`, stamped by the
    // rebaseline). At a different SPARK_GRAFT_CPUS none of the ratios mean
    // what their consumers assume: the canaries are themselves parallel
    // workloads (the 32-slice CPU chain at 8 cores reads ~3-4x with ZERO
    // ambient load — r21's c8 leg stamped `ambient:true` off exactly that
    // misread), and per-gate 2x sentinel bars flag genuinely-parallel
    // gates for scaling, not regressing. So a cpus mismatch turns OFF
    // drift ratios and the sentinel (raw canary seconds still print;
    // `ung: -1` = existing sentinel-off semantics); the driver's
    // lower-core leg exists to measure scaling, and its artifact now says
    // "no comparable reference" instead of fabricating drift. An absent
    // stamp (pre-r22 reference files) keeps the old always-on behavior.
    val cpusMatch: Boolean = refCpusMatches(refPath)
    if (!cpusMatch) System.err.println(
      s"[bench] reference was stamped at " +
        s"${refsAll.get("_refCpus").fold("?")(_.toInt.toString)} cores " +
        s"but this run uses ${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")} — " +
        "drift ratios and the contention sentinel are OFF for this run " +
        "(they would compare differently-parallel executions)")
    val canaryRef: Option[Double] =
      refsAll.get("_canary").filter(_ > 0).filter(_ => cpusMatch)
    val drift: Option[Double] = canaryRef.map(canarySec / _)
    val ioCanaryRef: Option[Double] =
      refsAll.get("_ioCanary").filter(_ > 0).filter(_ => cpusMatch)
    // The I/O canary reference is dataset-dependent (a full lineitem scan
    // of the stamped sfDir); a drift computed under a different sfDir is
    // meaningless, so the stamp gates the ratio.
    val ioCanarySfRef: Option[String] = referenceMetaString(refPath, "_ioCanarySf")
    val ioRefUsable = ioRefMatches(ioCanarySfRef, sfDir)
    if (!ioRefUsable) System.err.println(
      s"[bench] _ioCanary reference was stamped against " +
        s"${ioCanarySfRef.getOrElse("?")} but this run reads $sfDir — " +
        "skipping ioDrift (the ratio would compare scans of different data)")
    val ioDrift: Option[Double] = for {
      io <- ioCanarySec; ref <- ioCanaryRef if ioRefUsable
    } yield io / ref
    val shuffleCanaryRef: Option[Double] =
      refsAll.get("_shuffleCanary").filter(_ > 0).filter(_ => cpusMatch)
    val shuffleDrift: Option[Double] = shuffleCanaryRef.map(shuffleCanarySec / _)
    shuffleDrift.foreach { d =>
      if (d > 1.25) System.err.println(
        f"[bench] shuffle canary drift $d%.2fx ($shuffleCanarySec%.2f s vs " +
          f"${shuffleCanaryRef.get}%.2f s) — write-side ambient elevation; " +
          "the sentinel bar normalizes on the worst of the CPU and " +
          "shuffle drifts")
    }
    ioDrift.foreach { d =>
      if (d > 1.25) System.err.println(
        f"[bench] I/O canary drift $d%.2fx (CPU canary " +
          f"${drift.map(x => f"$x%.2fx").getOrElse("n/a")}) — memory/I/O-side " +
          "ambient elevation; diagnostic only, the sentinel bar stays " +
          "CPU-normalized")
    }
    drift.foreach { d =>
      if (d > 1.25) System.err.println(
        f"[bench] canary drift $d%.2fx vs committed reference " +
          f"($canarySec%.2f s vs ${canaryRef.get}%.2f s) — machine is " +
          "ambient-slow; adjudicate uniform elevation against this, " +
          "not against code changes")
    }
    val registryMap = SparkEntry.registry.toMap
    // Sentinel coverage must be TOTAL: a registered gate with no reference
    // entry is one the contention sentinel silently cannot protect (round
    // 11 shipped exactly that — j10 landed without a reference and its 3.8 s
    // contention number stood unchallenged). BenchRefSpec fails the build
    // when this list is nonempty; at run time the hole is recorded in both
    // artifacts so a stale reference file can't hide behind a green run.
    // With no reference at all, NOTHING is guarded — report that state as
    // -1/null, never as "unguarded: 0" (which reads as total coverage in
    // exactly the situation where the sentinel is off).
    val sentinelOn = refs.nonEmpty && cpusMatch
    val unguarded: Seq[String] =
      if (!sentinelOn) Seq.empty
      else SparkEntry.registry.map(_._1).filterNot(refs.contains)
    if (unguarded.nonEmpty)
      System.err.println(s"[bench] WARNING: ${unguarded.size} gate(s) have no " +
        s"entry in $refPath — the contention sentinel cannot protect them: " +
        unguarded.mkString(", "))
    // A crashed re-run must not masquerade as a fast clean one (the
    // adjudication rule reads a low rerun as "contention"): record -1 for
    // a re-run that failed, so the artifact says "re-run crashed", not
    // "re-run was quick".
    // The sentinel bar is canary-normalized (the r16 lesson: on a box the
    // canary clocked 1.36× slow, a genuinely-1.5× query would sentinel at
    // the same raw bar as on an idle machine). Drift multiplies the 2× bar,
    // CAPPED at 1.5 so a real regression cannot hide behind extreme ambient
    // load, and floored at 1.0 so a faster-than-reference box never
    // tightens the committed bar.
    val sentinelBar: Double = normalizedBar(drift, shuffleDrift)
    // All three axes count for the beyond-cap verdict (ioDrift doesn't
    // set the bar — read-side state rarely moves query wall alone — but
    // a 2–4× read-side elevation still invalidates flags).
    val ambient = ambientBeyondCap(drift, shuffleDrift, ioDrift)
    if (ambient) System.err.println(
      f"[bench] AMBIENT-BEYOND-CAP: a drift axis exceeds the sentinel " +
        f"bar's 1.5x cap (cpu ${drift.getOrElse(-1.0)}%.2f, shuffle " +
        f"${shuffleDrift.getOrElse(-1.0)}%.2f, io ${ioDrift.getOrElse(-1.0)}%.2f) " +
        "— sentinel flags from this run are machine-state evidence, not " +
        "code evidence; adjudicate with a quieter-window `Probe query` pair")
    // Best-of-3 re-runs (r18 lesson: both of that round's sentinelFailed
    // marks came from a single contended re-run — one bad re-run must not
    // stamp a false regression into the round artifact). Early-exits on
    // the first clearing run, so a genuinely-cleared gate still pays one.
    val reruns: Map[String, (Double, Int)] = results.collect {
      case (name, _, mn, _, true)
          if sentinelOn && refs.get(name).exists(r => mn > sentinelBar * r) =>
        System.err.println(f"[bench] sentinel: $name min $mn%.2f s > $sentinelBar%.2fx " +
          f"reference ${refs(name)}%.2f s (2x, canary-normalized) — re-running " +
          "(best of up to 3)")
        name -> rerunBestOf(sentinelBar * refs(name), 3)(() =>
          timeOnce(name, registryMap(name).fn))
    }.toMap
    // The sentinel's VERDICT, written back per query so the artifact is
    // reproducible from itself (round 12's artifact kept the contention-
    // polluted first-run numbers in `queries` while `failed: []` said the
    // re-runs cleared — sum-of-mins from the file gave 51.4 s, not the
    // adjudicated truth). `adj` = the clean re-measure where the re-run
    // proved contention (rerun ≤ 2× reference), the first-run min
    // otherwise; the first-run median/min/max stay recorded as the
    // contention evidence. A re-run that stayed > 2× (or crashed) is a
    // REAL regression: it keeps its flagged number and is named in
    // `sentinelFailed` so a green `failed` list can't absorb it.
    def cleared(name: String): Option[Double] = reruns.get(name).map(_._1)
      .filter(t => t >= 0 && refs.get(name).exists(r => t <= sentinelBar * r))
    val adj: Map[String, Double] = results.map { case (name, _, mn, _, _) =>
      name -> cleared(name).getOrElse(mn)
    }.toMap
    val adjMedians: Map[String, Double] = results.map { case (name, med, _, _, _) =>
      name -> cleared(name).getOrElse(med)
    }.toMap
    val sentinelFailed: Seq[String] =
      reruns.keys.filter(n => cleared(n).isEmpty).toSeq.sorted
    if (sentinelFailed.nonEmpty)
      System.err.println(s"[bench] sentinel: ${sentinelFailed.size} re-run(s) " +
        s"did NOT clear 2x reference: ${sentinelFailed.mkString(", ")}")

    val failed = results.collect { case (k, _, _, _, false) => k } ++
      fullFailed ++ (if (matOk) Nil else Seq("materialize"))
    // A failed query poisons the run: total = -1 (a broken query must never
    // *improve* the reported number) and the exit code is nonzero. The
    // one-time materialization cost counts toward the total — it is real
    // work — but is reported separately so per-query numbers stay
    // comparable across registry reorderings. total = sum of per-query
    // MEDIANS + materialize (sentinel re-runs are recorded, not
    // substituted — the artifact reports both and the reader adjudicates).
    val total =
      if (failed.nonEmpty) -1.0 else results.map(_._2).sum + materializeSec
    val fullTotal =
      if (failed.nonEmpty) -1.0 else fulls.map(_._2._1).sum
    // Adjudicated totals: Σ adj (mins with cleared re-runs substituted)
    // and Σ adjudicated medians + materialize — the numbers a reader
    // recomputing from the artifact should land on.
    val adjMinTotal =
      if (failed.nonEmpty) -1.0 else adj.values.sum
    val adjTotal =
      if (failed.nonEmpty) -1.0 else adjMedians.values.sum + materializeSec

    def j(d: Double): String = BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")

    // Full artifact, full names, full precision.
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "bench_full.json")
    val fullsMap = fulls.toMap
    val fullQ = results.map { case (k, med, mn, mx, ok) =>
      val rr = reruns.get(k).map { case (v, n) =>
        s""","rerun":$v,"rerunN":$n""" }.getOrElse("")
      val fl = fullsMap.get(k).map(f => s""","full":${f._1}""").getOrElse("")
      s""""$k":{"median":$med,"min":$mn,"max":$mx,"adj":${adj(k)},"ok":$ok$rr$fl}"""
    }.mkString("{", ",", "}")
    // The full artifact is best-effort: an unwritable CWD must not turn a
    // healthy benchmark run into a failed one (stdout still carries every
    // query's numbers in the compact line). A failed write also blanks the
    // compact line's detail pointer — pointing readers at a stale file
    // from a previous run would be worse than no pointer.
    val fullWritten =
      try {
        Files.writeString(Paths.get(fullPath),
          s"""{"metric":"total","value":$total,"unit":"sec","runs":$Runs,""" +
            s""""fullTotal":$fullTotal,""" +
            s""""adjTotal":$adjTotal,"adjMinTotal":$adjMinTotal,""" +
            s""""startedAt":"$startedAt","durationSec":${(System.nanoTime() - t00) / 1e9},""" +
            s""""canary":$canarySec,"canaryRef":${canaryRef.getOrElse("null")},""" +
            s""""canaryDrift":${drift.map(d => j(d)).getOrElse("null")},""" +
            s""""ioCanary":${ioCanarySec.getOrElse("null")},""" +
            s""""ioCanaryRef":${ioCanaryRef.getOrElse("null")},""" +
            s""""ioDrift":${ioDrift.getOrElse("null")},""" +
            s""""shuffleCanary":$shuffleCanarySec,""" +
            s""""shuffleCanaryRef":${shuffleCanaryRef.getOrElse("null")},""" +
            s""""shuffleDrift":${shuffleDrift.map(d => j(d)).getOrElse("null")},""" +
            s""""sentinelBar":${j(sentinelBar)},"ambientBeyondCap":$ambient,""" +
            s""""materialize":$materializeSec,"nq":${results.size},""" +
            s""""reference":"${if (refs.isEmpty) "" else refPath}",""" +
            s""""unguarded":${if (sentinelOn) unguarded.map("\"" + _ + "\"").mkString("[", ",", "]") else "null"},""" +
            s""""failed":$failedJson,""" +
            s""""sentinelFailed":${sentinelFailed.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
            s""""sf":"$sfDir","queries":$fullQ}""" + "\n")
        true
      } catch { case e: Throwable =>
        System.err.println(s"[bench] full artifact write failed ($fullPath): ${e.getMessage}")
        false
      }

    // Compact stdout line (see compactLine's scaladoc for the key legend
    // and the full-name driver contract). Compact `queries` carries the
    // ADJUDICATED median (cleared re-runs substituted) — the number the
    // round stands on; first-run evidence lives in the full artifact.
    val qs = results.map { case (k, _, _, _, _) =>
      "\"" + k + "\":" + jq(adjMedians(k)) }
      .mkString("{", ",", "}")
    val line = compactLine(
      adjTotal = adjTotal, rawTotal = total, fullTotal = fullTotal,
      runs = Runs, canarySec = canarySec, drift = drift, ioDrift = ioDrift,
      shuffleDrift = shuffleDrift, ambient = ambient,
      materializeSec = materializeSec, nq = results.size,
      detail = if (fullWritten) fullPath else "",
      sentinel = reruns.size,
      sentinelRuns =
        if (reruns.nonEmpty) Some(reruns.values.map(_._2).sum) else None,
      sentinelFailed = sentinelFailed.size,
      unguarded = if (sentinelOn) unguarded.size else -1,
      failedJson = failedJson, sfDir = sfDir, qs = qs)
    // Sanity bound only: full names put the healthy line at ~3.6k chars
    // (the driver parses full stdout; the ~2k tail window keeps the line's
    // end for human diagnostics). 5k would mean runaway registry growth or
    // a rendering bug — catch it in the run log, BenchRefSpec pins it too.
    if (line.length > 5000)
      System.err.println(s"[bench] WARNING: compact line ${line.length} chars — unexpectedly wide (renderer or registry growth bug?)")
    println(line)
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
