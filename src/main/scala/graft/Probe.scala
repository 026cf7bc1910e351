package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only measurement tool behind SCALE.md's rows. One main, six
  * subcommands, sharing one session recipe, one plan-forcing convention
  * (`force`) and one drift header:
  *
  * {{{
  * runMain graft.Probe scale <sfDir> [copies] [light] [only=q,...]
  * runMain graft.Probe stream <sfDir> [copies] [landings]
  * runMain graft.Probe query <q,...> [runs] [explain] [nowarm]
  * runMain graft.Probe plan <outDir> <tag> <q,...|all>
  * runMain graft.Probe zorder <sfDir> [files] [copies]
  * runMain graft.Probe compact <workDir>
  * }}}
  *
  * `query` and `plan` read the corpus named by `SPARK_GRAFT_SF_DIR`, as
  * Bench does. Arguments are validated by the pure [[parse]] before any
  * session is built.
  */
object Probe {

  sealed trait Cmd
  final case class Scale(sfDir: String, copies: Int, light: Boolean,
                         only: Option[Seq[String]]) extends Cmd
  final case class Stream(sfDir: String, copies: Int, landings: Int) extends Cmd
  final case class Query(sfDir: String, names: Seq[String], runs: Int,
                         explain: Boolean, nowarm: Boolean) extends Cmd
  final case class Plan(sfDir: String, outDir: String, tag: String,
                        names: Seq[String]) extends Cmd
  final case class Zorder(sfDir: String, files: Int, copies: Int) extends Cmd
  final case class Compact(workDir: String) extends Cmd

  private val Subcommands: Seq[String] =
    Seq("scale", "stream", "query", "plan", "zorder", "compact")

  private val Usage: String =
    """usage: graft.Probe <subcommand> ...
      |  scale   <sfDir> [copies=10] [light] [only=q,...]   synthesize a copies x corpus, time the dedup/ANN/event suite on it
      |  stream  <sfDir> [copies=10] [landings=10]          ingest-twin cost per landing + watermark state ladders
      |  query   <q,...> [runs=5] [explain] [nowarm]        time gates on $SPARK_GRAFT_SF_DIR; each run forces every
      |                                                     output column, so numbers compare with bench_full.json's
      |                                                     per-gate `full`, not its timed median
      |  plan    <outDir> <tag> <q,...|all>                 write <outDir>/<q>_<tag>.txt formatted plans of $SPARK_GRAFT_SF_DIR
      |  zorder  <sfDir> [files=16] [copies=1]              morton vs hilbert files-per-lookup and write time
      |  compact <workDir>                                  price compactClustered on a sliced fact table
      |Gate names are full names or leading codes (e7b, j6); the live rows
      |cc_live and cos_pairs_live time the un-materialized pipelines.""".stripMargin

  /** Un-materialized pipelines behind the shared inter-stage tables the
    * gates read, timed as their own rows so their scaling cannot hide
    * inside the warm phase. */
  private val live: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cc_live" -> queries.TextQueries.ccLabelsLive,
    "cos_pairs_live" -> queries.VectorQueries.cosPairsLive)

  private def knownNames: Seq[String] =
    SparkEntry.registry.map(_._1) ++ live.keys.toSeq.sorted

  /** The names in `among` that `selectors` pick, in selector order. A
    * selector is a full name ("e7b_binary_banded_neardup", "cc_live") or a
    * leading code ("e7b", "j6"); one that picks nothing is an error. */
  private def resolve(selectors: Seq[String], among: Seq[String]): Seq[String] = {
    val picked = selectors.map(s =>
      s -> among.filter(n => n == s || n.takeWhile(_ != '_') == s))
    val unknown = picked.collect { case (s, Seq()) => s }
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"unknown gate name(s): ${unknown.mkString(", ")}")
    picked.flatMap(_._2).distinct
  }

  private val flagNames = Set("light", "explain", "nowarm", "only")
  private def flagName(a: String): String = a.takeWhile(_ != '=')

  /** Pure argument parser: every check a run depends on happens here,
    * before a session exists. `sfDirEnv` is `SPARK_GRAFT_SF_DIR`. Throws
    * `IllegalArgumentException` on any invalid input. */
  def parse(args: Seq[String], sfDirEnv: Option[String]): Cmd = {
    def fail(msg: String): Nothing = throw new IllegalArgumentException(msg)
    val sub = args.headOption.getOrElse(fail(Usage))
    if (!Subcommands.contains(sub)) fail(
      s"unknown subcommand '$sub'; valid subcommands: ${Subcommands.mkString(", ")}")
    val (flags, pos) = args.tail.partition(a => flagNames(flagName(a)))
    def allowFlags(ok: String*): Unit = {
      val bad = flags.filterNot(f => ok.contains(flagName(f)))
      if (bad.nonEmpty) fail(s"$sub does not take ${bad.mkString(", ")}")
    }
    def maxArgs(n: Int): Unit =
      if (pos.size > n) fail(s"$sub takes at most $n arguments, got ${pos.mkString(" ")}")
    def arg(i: Int, what: String): String =
      pos.lift(i).getOrElse(fail(s"$sub needs <$what>\n$Usage"))
    def count(i: Int, what: String, default: Int): Int = {
      val n = pos.lift(i).fold(default)(a =>
        a.toIntOption.getOrElse(fail(s"$what must be an integer, got '$a'")))
      if (n < 1) fail(s"$what must be at least 1, got $n")
      n
    }
    def names(list: String, among: Seq[String]): Seq[String] = {
      val selectors = list.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      if (selectors.isEmpty) fail(s"$sub needs at least one gate name")
      resolve(selectors, among)
    }
    def corpus: String = sfDirEnv.getOrElse(
      fail(s"$sub reads the corpus named by SPARK_GRAFT_SF_DIR, which is not set"))
    sub match {
      case "scale" =>
        allowFlags("light", "only"); maxArgs(2)
        val only = flags.find(flagName(_) == "only")
          .map(f => names(f.stripPrefix("only="), ScaleRows.all))
        Scale(arg(0, "sfDir"), count(1, "copies", 10), flags.contains("light"), only)
      case "stream" =>
        allowFlags(); maxArgs(3)
        val copies = count(1, "copies", 10)
        val landings = count(2, "landings", 10)
        // A remainder would land fewer copies than the banner claims.
        if (copies % landings != 0)
          fail(s"copies ($copies) must be a multiple of landings ($landings)")
        Stream(arg(0, "sfDir"), copies, landings)
      case "query" =>
        allowFlags("explain", "nowarm"); maxArgs(2)
        Query(corpus, names(arg(0, "q,..."), knownNames), count(1, "runs", 5),
          flags.contains("explain"), flags.contains("nowarm"))
      case "plan" =>
        allowFlags(); maxArgs(3)
        val gates = SparkEntry.registry.map(_._1)
        Plan(corpus, arg(0, "outDir"), arg(1, "tag"), arg(2, "q,...|all") match {
          case "all" => gates
          case list => names(list, gates)
        })
      case "zorder" =>
        allowFlags(); maxArgs(3)
        Zorder(arg(0, "sfDir"), count(1, "files", 16), count(2, "copies", 1))
      case "compact" =>
        allowFlags(); maxArgs(1)
        Compact(arg(0, "workDir"))
    }
  }

  def main(args: Array[String]): Unit =
    parse(args.toSeq, sys.env.get("SPARK_GRAFT_SF_DIR")) match {
      case c: Scale => scale(c)
      case c: Stream => stream(c)
      case c: Query => query(c)
      case c: Plan => plan(c)
      case c: Zorder => zorder(c)
      case c: Compact => compact(c)
    }

  // ---- shared pieces -------------------------------------------------

  /** The probes' one session: Bench's recipe and core count, plus Bench's
    * JIT/codegen warm-up job so the first timed row does not absorb
    * session startup. */
  private def session(): SparkSession = {
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.range(1000).selectExpr("sum(id)").collect()
    spark
  }

  /** Runs `df`'s whole physical plan and returns its row count. Every
    * output column is evaluated: `count()` lets Catalyst prune unused
    * expressions and time a hollowed-out plan (scd2 read 2.7 s via
    * `count()` against ~15 s for the full plan; a pure-projection window
    * is optimized out entirely). This is Bench's per-gate `full` form. */
  def force(df: DataFrame): Long = df.queryExecution.toRdd.count()

  private def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** One forced run of gate or live row `name`, timed the way Bench's
    * `full` pass is: build, force, and clear cached blocks inside the
    * span. Returns (seconds, rows). */
  private def timeOnce(spark: SparkSession, sfDir: String, name: String): (Double, Long) = {
    val t0 = System.nanoTime()
    val n =
      try force(live.getOrElse(name, SparkEntry.queries(name))(spark, sfDir))
      finally spark.sharedState.cacheManager.clearCache()
    (secsSince(t0), n)
  }

  /** CC round counts for the `cc_live` row, read right after its run:
    * rounds flat + time up = memory/spill-bound; rounds up = algorithmic. */
  private def note(name: String): String =
    if (name != "cc_live") ""
    else ops.Graph.lastRounds.fold(", rounds=?")(r => s", rounds=${r.contract}+${r.jump}j")

  /** The drift header around a timed body: CPU and shuffle canaries
    * before, the I/O canary after, each with its ratio against
    * `bench_reference.json` when the reference is comparable (same
    * `_refCpus`; for I/O, the same corpus stamp). Raw seconds always
    * print. The I/O canary runs LAST because its lineitem scans warm the
    * page cache, which would perturb a `nowarm` first-run attribution. */
  private def withDrift(spark: SparkSession, sfDir: String)(body: => Unit): Unit = {
    val refPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_REF", "bench_reference.json")
    val cpusMatch = Bench.refCpusMatches(refPath)
    if (!cpusMatch) System.err.println("[probe] reference stamped at a different " +
      "core count — drift ratios suppressed (raw canary seconds still printed)")
    def line(label: String, secs: Double, key: String, usable: Boolean): Unit =
      println(f"[probe] $label $secs%.3f s" + Bench.canaryReference(refPath, key)
        .filter(_ => usable && cpusMatch)
        .fold("")(r => f" = drift ${secs / r}%.2fx vs committed $r%.3f s"))
    line("canary", Bench.measureCanary(spark), "_canary", usable = true)
    line("shuffleCanary", Bench.measureShuffleCanary(spark), "_shuffleCanary", usable = true)
    body
    val ioStamp = Bench.referenceMetaString(refPath, "_ioCanarySf")
    val ioUsable = Bench.ioRefMatches(ioStamp, sfDir)
    if (!ioUsable) System.err.println(s"[probe] _ioCanary reference was stamped " +
      s"against ${ioStamp.getOrElse("?")} but this run reads $sfDir — ioDrift skipped")
    Bench.measureIoCanary(spark, sfDir).foreach(io => line("ioCanary", io, "_ioCanary", ioUsable))
  }

  // ---- query / plan ----------------------------------------------------

  /** Per-gate timing on the bench corpus, every run printed. After the
    * warm phase it prints each InterStage build's (start, end, duration,
    * thread, key) relative to the phase start: the long pole inside a
    * warm chain, and gaps that are un-written compute between builds.
    * `nowarm` skips the warm phase, so a gate's first run shows its
    * inter-stage build cost. */
  private def query(c: Query): Unit = {
    val spark = session()
    withDrift(spark, c.sfDir) {
      if (!c.nowarm) {
        val t0 = System.nanoTime()
        SparkEntry.preMaterialize(spark, c.sfDir)
        spark.sharedState.cacheManager.clearCache()
        println(f"[query] materialize ${secsSince(t0)}%.1f s")
        ops.InterStage.buildEvents(_ => true).sortBy(_._3).foreach { case (k, tid, s, e) =>
          println(f"[query]   ${(s - t0) / 1e9}%6.2f -> ${(e - t0) / 1e9}%6.2f " +
            f"(${(e - s) / 1e9}%5.2f s) tid=$tid%-3d ${k.substring(k.lastIndexOf('|') + 1)}")
        }
      }
      for (n <- c.names) {
        if (c.explain)
          live.getOrElse(n, SparkEntry.queries(n))(spark, c.sfDir).explain("formatted")
        val runs = (1 to c.runs).map(_ => timeOnce(spark, c.sfDir, n))
        val ts = runs.map(_._1)
        val sorted = ts.sorted
        println(f"[query] $n%-28s min=${sorted.head}%.3f med=${sorted(c.runs / 2)}%.3f " +
          s"rows=${runs.map(_._2).distinct.mkString("/")} " +
          ts.map(t => f"$t%.3f").mkString("runs=[", ", ", "]") + note(n))
      }
    }
    spark.stop()
  }

  /** `.explain("formatted")` of each named gate to
    * `<outDir>/<gate>_<tag>.txt`: the before/after plan evidence an
    * optimization round commits (plans/r21, plans/r22). */
  private def plan(c: Plan): Unit = {
    val spark = session()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(c.outDir))
    for (n <- c.names) {
      try {
        val text = SparkEntry.queries(n)(spark, c.sfDir).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"${c.outDir}/${n}_${c.tag}.txt"), text)
        println(s"[plan] wrote ${c.outDir}/${n}_${c.tag}.txt")
      } catch { case e: Throwable =>
        System.err.println(s"[plan] $n FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }

  // ---- scale -----------------------------------------------------------

  /** The rows `scale` can time, grouped by the source table each group's
    * synthesis writes. */
  private object ScaleRows {
    val docs = Seq("d1_exact_dedup", "d2_ngram_jaccard_pairs",
      "d3_minhash_lsh_pairs", "d4_simhash_sig", "d5_simhash_hamming_pairs",
      "d6_dup_clusters", "d7_canonical_prune", "d8_incremental_dedup",
      "d9_repeated_spans", "d9b_span_coverage", "d10_segment_dedup",
      "t4_winnow_fingerprint", "t11_dup_rate", "t12_token_shards",
      "t13_chunk_windows", "t14_quality_classifier", "t15_mixture_resample",
      "t16b_bpe_vocab", "t18_bigram_logprob", "t19_oov_rate",
      "t20_global_rank", "t21_source_quota", "t22_fuzzy_edit_join",
      "t23_stratified_split", "t24_token_budget",
      "m5_ppm_resize",
      "m6_wav_features", "m7_image_dhash", "m8_image_neardup",
      "x1_decontaminate", "x1b_bloom_decontaminate", "cc_live")
    val vecs = Seq("e2_knn_lsh", "e3_cosine_neardup_pairs", "e6_ivf_knn",
      "e6b_ivf_adaptive", "e7_binary_sign_ann", "e7b_binary_banded_neardup",
      "e8_semantic_prune", "e9_int8_adc_knn", "e10_pq_adc_knn",
      "e11_incremental_semantic", "e12_ivfpq_knn", "cos_pairs_live")
    val events = Seq("j6_nearest_within_band", "j7_asof_join",
      "ev_sessionize", "ev_hourly_rollup", "ev_funnel",
      "w3_rolling_window", "ev_retention", "scd2_user_history", "ev_gapfill",
      "c9_psi_drift")
    val lineitem = Seq("a12_heavy_hitters", "a13_bucketed_quantiles",
      "j10_skew_split_join", "k8_zorder_cluster")
    val all: Seq[String] = docs ++ vecs ++ events ++ lineitem
  }

  /** Synthesizes a corpus `copies`× the sf tables under a temp dir (each
    * copy perturbed so it stays a NEAR duplicate — the oversampled-corpus
    * hard case where dup clusters grow `copies`× and pair counts
    * `copies`²×), then times the selected rows on it: which operators hold
    * at scale and which shapes are inherently quadratic, measured.
    *
    * `light` skips the O(n²) exact baselines (e3b pair scan, e1-anchored
    * recall): at ≥30× they dominate wall-clock while measuring nothing new.
    * `only=` synthesizes only the tables the subset reads and warms only
    * the chains it consumes, so a targeted 100× re-measure does not pay
    * the full materialize of every chain.
    */
  private def scale(c: Scale): Unit = {
    val selected = c.only.getOrElse(ScaleRows.all).toSet
    val spark = session()
    val big = java.nio.file.Files.createTempDirectory("graft_scale_").toString
    val copyIdx = explode(sequence(lit(0), lit(c.copies - 1)))
    // Banner reports ONLY what was synthesized: an only-mode run must not
    // log a corpus that does not exist at $big.
    val synthesized = Seq.newBuilder[String]

    // Every synthesized table lands as MULTI-file parquet. The explode
    // inherits the source scan's partitioning (sf0.1 tables are one file),
    // so without this every consumer's pre-shuffle stage runs on ONE core:
    // scd2 measured 29.5 s single-split vs 3.4 s multi-split at 10×. The
    // spread hashes the post-explode COPY-DEPENDENT key, so near-duplicate
    // copies of a base row land in different splits; colocating them
    // would let parquet encode adjacent near-identical rows far better
    // than a realistically interleaved corpus, flattering every scan.
    val spreadN = spark.sparkContext.defaultParallelism
    def writeSpread(df: DataFrame, key: org.apache.spark.sql.Column, path: String): Unit =
      df.repartition(spreadN, key).write.mode("overwrite").parquet(path)

    if (ScaleRows.docs.exists(selected)) {
      val nDocs = spark.read.parquet(s"${c.sfDir}/documents.parquet").count()
      writeSpread(ProbeCorpus.docsCopies(spark, c.sfDir, c.copies),
        col("doc_id"), s"$big/documents.parquet")
      synthesized += s"${nDocs * c.copies} docs"
    }

    // embeddings x copies: tiny per-copy perturbation on one dimension.
    // Copy 0 is the base corpus unchanged, so `copies = 1` is the 1×
    // recall reading on ordinary cosine distances.
    if (ScaleRows.vecs.exists(selected)) {
      val emb = spark.read.parquet(s"${c.sfDir}/embeddings.parquet")
      val nVec = emb.count()
      val vecIdOff = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
      writeSpread(emb.withColumn("copy", copyIdx)
        .select((col("vec_id") + col("copy") * vecIdOff).as("vec_id"),
          transform(col("embedding"),
            (x, i) => when(i === 0, x + col("copy").cast("float") * lit(1e-4f))
              .otherwise(x).cast("float")).as("embedding"),
          col("label")),
        col("vec_id"), s"$big/embeddings.parquet")
      synthesized += s"${nVec * c.copies} vecs"
    }

    // events x copies: per-band/per-user density stays what the 1× table
    // has, so banded/as-of joins measure plan scaling, not a synthetic
    // pile-up. ts lands as TimestampType (instant µs), exercising the
    // decode seam's second branch at probe scale.
    if (ScaleRows.events.exists(selected)) {
      val span = ProbeCorpus.eventSpan(spark, c.sfDir)
      writeSpread(
        ProbeCorpus.eventsCopies(spark, c.sfDir, span, 0, c.copies, ntz = false),
        col("event_id"), s"$big/events.parquet")
      synthesized += s"${span.n * c.copies} events"
    }

    // lineitem x copies: part keys offset per copy — "more keys, same skew
    // profile", so the heavy-hitter SET scales linearly and the CMS
    // prefilter's selectivity stays what production sees.
    if (ScaleRows.lineitem.exists(selected)) {
      val li = spark.read.parquet(s"${c.sfDir}/lineitem.parquet")
      val nLi = li.count()
      val part0 = spark.read.parquet(s"${c.sfDir}/part.parquet")
      // Offset from the larger key space: an unreferenced part key above
      // max(l_partkey) would otherwise collide with the next copy's keys.
      val pkOff = math.max(
        li.agg(max(col("l_partkey"))).head().getLong(0),
        part0.agg(max(col("p_partkey"))).head().getLong(0)) + 1
      writeSpread(li.withColumn("copy", copyIdx)
        .withColumn("l_partkey", col("l_partkey") + col("copy") * pkOff)
        .drop("copy"),
        // NOT l_partkey alone: the join key is deliberately skewed, and
        // spreading on it would pile every hot key into one split.
        xxhash64(col("l_orderkey"), col("l_linenumber"), col("l_partkey")),
        s"$big/lineitem.parquet")
      // part replicates with the SAME per-copy offset, so every
      // synthesized l_partkey keeps exactly one dimension match.
      writeSpread(part0.withColumn("copy", copyIdx)
        .withColumn("p_partkey", col("p_partkey") + col("copy") * pkOff)
        .drop("copy"),
        col("p_partkey"), s"$big/part.parquet")
      synthesized += s"${nLi * c.copies} lineitems (+part dim)"
    }

    println(s"[scale] corpus at $big: ${synthesized.result().mkString(", ")}" +
      c.only.fold("")(o => s" (only=${o.mkString(",")})"))

    def timed(name: String): Option[Long] = {
      val t0 = System.nanoTime()
      try {
        val (secs, n) = timeOnce(spark, big, name)
        println(f"[scale] $name: $secs%.1f s, $n rows" + note(name))
        Some(n)
      } catch { case e: Throwable =>
        println(f"[scale] $name FAILED after ${secsSince(t0)}%.1f s: ${e.getMessage.take(200)}")
        None
      }
    }
    val t0 = System.nanoTime()
    if (c.only.isEmpty) SparkEntry.preMaterialize(spark, big)
    else {
      import graft.queries.{TextQueries, VectorQueries}
      val sel = (rows: Seq[String]) => rows.exists(selected)
      if (sel(Seq("d2_ngram_jaccard_pairs", "d3_minhash_lsh_pairs",
          "x1_decontaminate", "x1b_bloom_decontaminate")))
        TextQueries.warmShingleChain(spark, big)
      if (sel(Seq("t4_winnow_fingerprint", "t11_dup_rate")))
        TextQueries.warmWinnowChain(spark, big)
      if (sel(Seq("d9_repeated_spans", "d9b_span_coverage")))
        TextQueries.warmRepSpanChain(spark, big)
      if (sel(Seq("d4_simhash_sig", "d5_simhash_hamming_pairs", "d6_dup_clusters",
          "d7_canonical_prune", "d8_incremental_dedup", "cc_live")))
        TextQueries.warmSimhashChain(spark, big)
      if (sel(ScaleRows.vecs)) {
        // Sign-signature consumers need only the normed/bucketed corpus
        // table, not the IVF/PQ/semantic-CC builds (tens of minutes at 100×).
        val sigOnly = Set("e2_knn_lsh", "e7_binary_sign_ann", "e7b_binary_banded_neardup")
        if (ScaleRows.vecs.filter(selected).forall(sigOnly))
          VectorQueries.warmSigChain(spark, big)
        else VectorQueries.warmInterStage(spark, big)
      }
    }
    println(f"[scale] materialize: ${secsSince(t0)}%.1f s")
    val counts = ScaleRows.all.filter(selected).map(n => n -> timed(n)).toMap

    // e3 recall vs the exact baseline: e3's output is exact-verified, so
    // it is a subset of e3b and recall = |e3| / |e3b|. e3b is the
    // deliberate O(n²/2) baseline.
    counts.getOrElse("e3_cosine_neardup_pairs", None) match {
      case _ if c.light || c.only.isDefined =>
        println("[scale] recall SKIPPED (light/only mode)")
      case Some(e3) =>
        timed("e3b_cosine_neardup_exact") match {
          case Some(e3b) if e3b > 0 =>
            println(f"[scale] e3 recall vs exact: ${e3.toDouble / e3b}%.3f ($e3 / $e3b)")
          case Some(_) =>
            println(s"[scale] recall UNDEFINED: exact baseline returned 0 pairs " +
              s"(e3 returned $e3 — nonzero would mean e3 emits pairs the exact scan misses)")
          case None => println("[scale] recall SKIPPED: exact baseline failed")
        }
      case None => println("[scale] recall SKIPPED: e3 failed")
    }
    // recall@5 of every approximate KNN path vs e1's exact top-5 over the
    // SAME fixed probe set. The result sets are probe-bounded (ProbeCount
    // x 5 rows), so the compare is a tiny driver-side set operation.
    def pairs(name: String): Set[(Long, Long)] =
      SparkEntry.queries(name)(spark, big).select("q_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    if (c.light || c.only.isDefined) println("[scale] knn recall SKIPPED (light/only mode)")
    else try {
      val t = System.nanoTime()
      val exact = pairs("e1_knn_bruteforce")
      println(f"[scale] e1 exact baseline: ${secsSince(t)}%.1f s, ${exact.size} pairs")
      for (name <- Seq("e2_knn_lsh", "e6_ivf_knn", "e6b_ivf_adaptive",
          "e7_binary_sign_ann", "e9_int8_adc_knn", "e10_pq_adc_knn", "e12_ivfpq_knn")) {
        try {
          val hit = exact.count(pairs(name).contains)
          println(f"[scale] $name recall@5 vs e1: ${hit.toDouble / exact.size}%.3f ($hit / ${exact.size})")
        } catch { case e: Throwable =>
          println(s"[scale] $name recall FAILED: ${e.getMessage.take(200)}")
        }
      }
    } catch { case e: Throwable =>
      println(s"[scale] knn recall SKIPPED: e1 failed: ${e.getMessage.take(200)}")
    }
    spark.stop()
  }

  // ---- stream ----------------------------------------------------------

  /** Scale evidence for the STREAMING maintenance paths. Synthesizes an
    * events corpus `copies`× sf (ProbeCorpus.eventsCopies: per-copy time
    * shift + id offsets) landed as `landings` sequential file batches,
    * then measures:
    *
    *   - `rollupIngest` / `scd2Ingest`: seconds PER LANDING as history
    *     accumulates (the claim: per-batch cost tracks the batch + touched
    *     state, not the history) and the state's row count. A FIXED tiny
    *     scd2 landing (4 users, ≤4 of 64 buckets) is ingested at a small
    *     and at the full history: the flat-in-history pair;
    *   - `driftMonitor` / `dedupStream` / `hourlyRollup` /
    *     `clickAttribution`: one AvailableNow run over all landings,
    *     reporting micro-batches and the MAX live state rows / memory
    *     (the claim: state is bounded by churn inside the watermark
    *     horizon). Dedup runs a horizon ladder, so state-vs-horizon is a
    *     curve, not a point.
    */
  private def stream(c: Stream): Unit = {
    import graft.streaming.EventStreams
    import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}
    val spark = session()
    val root = java.nio.file.Files.createTempDirectory("graft_sprobe_").toString
    val src = s"$root/src"
    val span = ProbeCorpus.eventSpan(spark, c.sfDir)
    val perLanding = c.copies / c.landings

    // One landing = `perLanding` consecutive copies, written in copy
    // (= event-time) order so the file source's mod-time ordering
    // delivers them in order — the contract scd2Ingest enforces and
    // watermarks assume. ts lands as TIMESTAMP NTZ, the stream schema's.
    def landingDf(l: Int) = ProbeCorpus.eventsCopies(spark, c.sfDir, span,
      l * perLanding, (l + 1) * perLanding, ntz = true)

    val rollState = s"$root/roll_state"; val rollCkpt = s"$root/roll_ckpt"
    val scdState = s"$root/scd_state"; val scdCkpt = s"$root/scd_ckpt"
    // Tiny landing: 4 users of reserved copy index `copies + k` (ids and
    // times past every big landing's, so per-user order holds trivially).
    def tinyProbe(k: Int): Unit = {
      val cp = c.copies + k
      val ids = (1L to 4L).map(_ + cp * (span.maxUserId + 1))
      ProbeCorpus.eventsCopies(spark, c.sfDir, span, cp, cp + 1, ntz = true)
        .where(col("user_id").isin(ids: _*))
        .coalesce(1).write.mode("append").parquet(src)
      val t0 = System.nanoTime()
      EventStreams.scd2Ingest(spark, src, scdState, scdCkpt)
      val t = secsSince(t0)
      val histRows = EventStreams.readScd2(spark, scdState).count()
      val latest = EventStreams.manifestIds(spark, scdState).max
      val man = EventStreams.readManifest(spark, scdState, latest)
      val touched = man.entries.count(_._2 == latest)
      println(f"[stream] scd2 tiny landing @$histRows%d-row history: " +
        f"$t%.1f s, rewrote $touched of ${man.buckets} buckets")
    }
    for (l <- 0 until c.landings) {
      landingDf(l).repartition(8).write.mode("append").parquet(src)
      val t0 = System.nanoTime()
      EventStreams.rollupIngest(spark, src, rollState, rollCkpt)
      val tRoll = secsSince(t0)
      val t1 = System.nanoTime()
      EventStreams.scd2Ingest(spark, src, scdState, scdCkpt)
      val tScd = secsSince(t1)
      val rollRows = EventStreams.readRollup(spark, rollState).count()
      val scdRows = EventStreams.readScd2(spark, scdState).count()
      println(f"[stream] landing $l%2d (${perLanding}x copies): " +
        f"rollupIngest $tRoll%.1f s (state $rollRows rows), " +
        f"scd2Ingest $tScd%.1f s (history $scdRows rows)")
      if (l == 0) tinyProbe(0)
      if (l == c.landings - 1) tinyProbe(1)
    }

    // noop sink, NOT memory: the dedup output is corpus-sized and a memory
    // sink collects it into the driver (a 100× run died exactly there).
    // Progress comes from a listener accumulating EVERY report:
    // `q.recentProgress` keeps only the last 100, which understates the
    // max for exactly the long runs this measures.
    def stateRun(name: String, df: DataFrame): Unit = {
      val collected = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
      val listener = new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
          collected.add(e.progress)
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      }
      spark.streams.addListener(listener)
      try {
        val q = df.writeStream.format("noop").outputMode("append")
          .option("checkpointLocation", s"$root/${name}_ckpt")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        // Listener events arrive asynchronously: drain until the count
        // stops growing (bounded wait).
        var last = -1; var waited = 0
        while (collected.size != last && waited < 20) {
          last = collected.size; Thread.sleep(500); waited += 1
        }
        import scala.jdk.CollectionConverters._
        val progs = collected.asScala.toSeq
          .filter(p => p.runId == q.runId && p.numInputRows > 0).sortBy(_.batchId)
        val st = progs.flatMap(_.stateOperators)
        val maxRows = if (st.isEmpty) 0L else st.map(_.numRowsTotal).max
        val maxMemMb = if (st.isEmpty) 0.0 else st.map(_.memoryUsedBytes).max / 1e6
        val inRows = progs.map(_.numInputRows).sum
        val outRows = progs.map(p => Option(p.sink).map(_.numOutputRows).getOrElse(0L))
          .filter(_ > 0).sum
        // The per-batch series separates the warm-up batches (no eviction
        // before the first watermark advance) from the steady state the
        // horizon governs, which the single max conflates.
        val series = progs.map(_.stateOperators.map(_.numRowsTotal).sum)
        println(f"[stream] $name: ${progs.length} micro-batches, $inRows input rows, " +
          f"max live state $maxRows rows / $maxMemMb%.1f MB, out $outRows rows, " +
          s"state/batch [${series.mkString(", ")}]")
        q.stop()
      } finally spark.streams.removeListener(listener)
    }
    // maxFilesPerTrigger ≈ one landing per micro-batch (8 files each).
    // The tiny scd2 landings share `src` but carry FAR-FUTURE event times:
    // fed to a watermarked stream they would jump the watermark past every
    // remaining landing and the run would measure late drops, not state.
    // Their user ids are past every big landing's, so filtering on user id
    // BEFORE the operator's withWatermark keeps them out.
    val maxBigUid = c.copies.toLong * (span.maxUserId + 1) - 1
    def events() = spark.readStream.schema(EventStreams.eventSchema)
      .option("maxFilesPerTrigger", "8").parquet(src)
      .where(col("user_id") <= maxBigUid)
    stateRun("drift", EventStreams.driftMonitor(events(), EventStreams.driftReference(
      spark.read.schema(EventStreams.eventSchema).parquet(src))))
    // Dedup horizon ladder relative to one landing's event-time span:
    // eviction runs only at batch boundaries, so state is max(one batch's
    // churn, horizon × arrival rate), and a horizon far below the batch
    // span reads as the churn floor at every rung.
    val landingSpanUs = perLanding.toLong * span.spanUs
    for (f <- Seq(0.5, 1.0, 2.0)) {
      val h = s"${math.max(1L, (landingSpanUs * f / 3.6e9).round)} hours"
      stateRun(s"dedup_${f}x_landing_${h.replace(' ', '_')}",
        EventStreams.dedupStream(events(), h))
    }
    stateRun("rollup", EventStreams.hourlyRollup(events()))
    // Stream-stream interval join: both sides watermarked, so join state
    // expires past watermark + interval — horizon-bounded, not corpus-bounded.
    stateRun("attr", EventStreams.clickAttribution(events(), events()))
    println(s"[stream] corpus: ${span.n * c.copies} events in ${c.landings} landings under $root")
    spark.stop()
  }

  // ---- zorder ----------------------------------------------------------

  /** Mean per-file min/max span of `c` as a fraction of its global range. */
  private def meanSpan(spark: SparkSession, path: String, c: String): Double = {
    val df = spark.read.parquet(path)
    val g = df.agg(min(col(c)).cast("double"), max(col(c)).cast("double")).head()
    val range = g.getDouble(1) - g.getDouble(0)
    df.groupBy(input_file_name().as("f"))
      .agg(((max(col(c)) - min(col(c))).cast("double") / range).as("s"))
      .agg(avg(col("s"))).head().getDouble(0)
  }

  /** Hilbert vs Morton: writes the same frame clustered by `zorderBy`
    * under both curves and reports the write time, mean per-file span and
    * mass-weighted files per point lookup (the ZorderSpec metric, the one
    * that survives skew) of every clustered column. Runs on a uniform
    * 256×256 grid (the crisp ideal) and on sf lineitem
    * (l_partkey, l_suppkey), k8's shape; `copies` > 1 unions key-shifted
    * lineitem copies, to check that the curve gap and write cost scale
    * linearly. */
  private def zorder(c: Zorder): Unit = {
    val spark = session()
    def probe(tag: String, df: DataFrame, cols: Seq[String]): Unit =
      for (curve <- Seq("morton", "hilbert")) {
        val dir = java.nio.file.Files.createTempDirectory(s"graft_zp_${curve}_").toString
        val t0 = System.nanoTime()
        ops.Relational.zorderBy(df, cols, c.files, curve = curve)
          .write.mode("overwrite").parquet(dir)
        val secs = secsSince(t0)
        val m = cols.map(k => f"$k span=${meanSpan(spark, dir, k)}%.3f " +
          f"files/lookup=${ops.Relational.filesPerLookup(spark.read.parquet(dir), k)}%.2f")
        println(f"[zorder] $tag%-28s $curve%-7s write=$secs%6.1fs  ${m.mkString("  ")}")
      }
    val n = 256
    probe(s"grid ${n}x$n/${c.files} files", spark.range(n.toLong * n)
      .select((col("id") % n).as("a"), (col("id") / n).cast("long").as("b"),
        col("id").as("payload")), Seq("a", "b"))
    val li0 = Tables.load(spark, c.sfDir, "lineitem")
    val pSpan = li0.agg(max(col("l_partkey"))).head().getLong(0) + 1
    val li = li0.withColumn("c", explode(sequence(lit(0), lit(c.copies - 1))))
      .select((col("l_partkey") + col("c") * pSpan).as("l_partkey"),
        col("l_suppkey"), col("l_orderkey"), col("l_quantity"))
    probe(s"lineitem ${c.copies}x/${c.files} files", li, Seq("l_partkey", "l_suppkey"))
    spark.stop()
  }

  // ---- compact ---------------------------------------------------------

  private def locality(spark: SparkSession, tag: String, dir: String): Unit = {
    val df = spark.read.parquet(dir)
    val shape = df.groupBy(col("IncidentStationGround").as("st"),
        input_file_name().as("f")).count()
      .agg(count(lit(1)).as("files"), countDistinct(col("st")).as("dirs"))
      .head()
    val (files, dirs) = (shape.getLong(0), shape.getLong(1))
    val perLookup = ops.Relational.filesPerLookup(
      df, "DateOfCall", Some("IncidentStationGround"))
    println(f"[compact] locality $tag: $files files over $dirs station dirs " +
      f"(${files.toDouble / math.max(dirs, 1)}%.1f/dir), " +
      f"files touched per (station,date) lookup = $perLookup%.2f")
  }

  /** Prices the sliced-fact compaction remedy over a completed
    * `PipelineDemo --slices k` workDir whose fact table landed as k
    * sequential range-clustered appends:
    *
    *   1. read locality BEFORE: files per station dir and the
    *      mass-weighted files touched per (station, date) point lookup;
    *   2. one `Relational.compactClustered` pass: wall-clock, scratch
    *      trough (min usable bytes during the rewrite) and committer shape
    *      (files/task at the row-sized partition count);
    *   3. read locality AFTER, on the re-clustered directory;
    *   4. the C8 referential-integrity family against the staged dimension
    *      parquets: the remedy must be gate-green, not just fast.
    */
  private def compact(c: Compact): Unit = {
    val base = java.nio.file.Paths.get(c.workDir)
    // Same session shape as the rung that wrote the table: the .rows
    // marker drives cores/shuffle sizing exactly like a --from resume.
    // Without it the session would take the tiny-fixture profile over a
    // scaled table, so refuse before a session exists.
    val rows = warehouse.PipelineDemo.readRowsMarker(base).getOrElse(
      throw new IllegalArgumentException(s"compact: workDir $base has no .rows " +
        "marker; point it at the workDir of a scaled PipelineDemo run"))
    val spark = warehouse.PipelineDemo.buildSession(base, Some(rows), fromMarker = true)
    val factDir = base.resolve("warehouse/lfb_call").toString
    val optDir = base.resolve("warehouse/lfb_call_opt").toString

    locality(spark, "before (sliced)", factDir)

    // Scratch trough over BOTH filesystems the rewrite touches: the
    // workDir (new copy) and the spill dirs (the range shuffle's home;
    // where /tmp is a different partition it is the dominant term).
    val scratchDirs = base.toFile +: ops.Relational.spillDirs(spark)
    def freeNow: Long = scratchDirs.map(_.getUsableSpace).min
    @volatile var minFree = freeNow
    @volatile var sampling = true
    val sampler = new Thread(() => {
      while (sampling) {
        minFree = math.min(minFree, freeNow)
        Thread.sleep(500)
      }
    })
    sampler.setDaemon(true); sampler.start()
    val t0 = System.nanoTime()
    val n = ops.Relational.compactClustered(spark.read.parquet(factDir), optDir,
      "IncidentStationGround", Seq("DateOfCall", "NotionalCost"))
    val wall = secsSince(t0)
    sampling = false
    val tasks = ops.Relational.rowSizedPartitions(n)
    val optFiles = Option(new java.io.File(optDir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("IncidentStationGround="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet"))).sum
    println(f"[compact] rewrite: $n%,d rows in $wall%.1f s " +
      f"(${wall / (n / 1e6)}%.2f s/M), $tasks write tasks, $optFiles files " +
      f"= ${optFiles.toDouble / tasks}%.2f files/task, " +
      f"scratch trough ${minFree / 1e9}%.1f GB free")

    locality(spark, "after (compacted)", optDir)

    // The canonical C8 family, shared with the pipeline's post-load gate,
    // against the staged dim parquets the catalog dims load from.
    val paths = warehouse.Pipeline.Paths(base.resolve("staging").toString)
    val fact = spark.read.parquet(optDir)
    val gates = warehouse.Pipeline.factRefGates
    val bad = gates.flatMap { case (fk, _, stagedPath, pk) =>
      ops.Checks.referentialIntegrity(fact, fk,
        spark.read.parquet(stagedPath(paths)), pk).left.toSeq
    }
    require(fact.count() == n, "re-clustered row count drifted")
    require(bad.isEmpty, s"C8 on re-clustered table FAILED: $bad")
    println(s"[compact] C8 family green on re-clustered table (${gates.size} gates), rows = $n")
    spark.stop()
  }
}
