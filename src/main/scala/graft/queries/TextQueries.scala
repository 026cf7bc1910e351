package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Graph, InterStage, Relational, TextOps}

/** Training-data text pipeline: deduplication (exact, MinHash+LSH, n-gram
  * Jaccard, SimHash), language ID, quality scoring, token counting, and
  * winnowing fingerprints — over the `documents` table.
  *
  * Every hash is sha2-anchored (TextOps.h60) so the DuckDB oracles
  * recompute identical values; ratio metrics use a single double division
  * of exact integers, which is IEEE-deterministic across engines.
  */
object TextQueries {

  /** DuckDB fragment mirroring TextOps.h60. */
  private def dH60(s: String) = s"(('0x' || substr(sha256($s), 1, 15))::BIGINT)"
  private val P = TextOps.HashPrime
  /** DuckDB fragment mirroring TextOps.minhashSignature's permutation. */
  private def dPerm(i: String, h: String) =
    s"(((1103515245 * ($i + 1) + 12345) % $P) * $h + ((134775813 * ($i + 1) + 1) % $P)) % $P"

  /** DuckDB CTEs: tokens and distinct word-3-shingles with hashes. */
  private val dShingleCtes =
    "toks AS (SELECT doc_id, lang, string_split_regex(text, '\\s+') t FROM documents), " +
      "sh AS (SELECT doc_id, list_distinct(CASE WHEN len(t) < 3 THEN [] " +
      "ELSE list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' ')) END) shs " +
      "FROM toks), " +
      s"hashed AS (SELECT doc_id, len(shs) n, list_transform(shs, s -> ${dH60("s")} % $P) h FROM sh)"

  val stopwords = Seq("the", "a", "of", "to", "and", "in", "is")

  /** BPE merge rounds learned by t16. Fixed and small: each round is one
    * corpus-wide pair-count shuffle over the DISTINCT-WORD table, so the
    * constant bounds total cost. Production round counts run through
    * `bpeTrainCheckpointed` (per-round InterStage checkpoint) — MEASURED
    * flat at 0.31–0.5 s/round over 30 rounds at sf0.1, vs ~1 s/round
    * GROWTH for this gate's lineage-accreting shape (SCALE.md round 14):
    * the checkpoint is what makes thousands of rounds reachable, and
    * BpeSpec pins the two trainers to identical merges + vocab.
    */
  val BpeRounds = 3

  /** Distributed BPE trainer core (t16/t16b): learn `BpeRounds` merge
    * rules on the word-frequency dictionary, SentencePiece-style.
    *
    * Scale shape: the corpus collapses to its DISTINCT words first (the
    * classic BPE trick — pair statistics only need word counts), so every
    * later stage runs on a table orders of magnitude smaller than the
    * corpus at 100 TB, shuffle-keyed by word. Each round is then
    * (1) adjacent-pair counts keyed by the pair (map-side combine),
    * (2) a global top-1 (TakeOrdered — no full sort), and (3) a map-only
    * broadcast apply of the merge via an `aggregate` fold that implements
    * greedy left-to-right pairing exactly: merge when the accumulator's
    * last symbol equals p1 and the next equals p2. A freshly merged
    * symbol is p1||p2 ≠ p1, so no new match can appear mid-round — which
    * is what makes the single-pass DuckDB window-parity oracle provably
    * equivalent to the fold.
    *
    * Returns (one merge-rule row per round, final symbol table).
    */
  /** Initial BPE symbol table: word-frequency dict, each word split to
    * per-character symbols with the '</w>' terminator. */
  private[graft] def bpeInit(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "documents")
      .select(explode(TextOps.tokens(col("text"))).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("wc"))
      .select(col("w"), col("wc"),
        concat(filter(split(col("w"), ""), x => length(x) > 0),
          array(lit("</w>"))).as("syms"))

  /** Adjacent-pair frequencies of the current symbol table, keyed by the
    * pair (map-side combine — the per-round shuffle). Fully-merged words
    * (one symbol) are filtered FIRST: `sequence(1, size-1)` on them is
    * sequence(1, 0) — a DESCENDING Spark sequence [1, 0], whose i=1 step
    * indexes element 2 of a 1-element array and throws under ANSI mode.
    * Invisible at BpeRounds = 3 (no sf word collapses that fast); found by
    * the checkpointed trainer's run-to-exhaustion spec. */
  private[graft] def bpePairs(cur: DataFrame): DataFrame =
    cur.where(size(col("syms")) >= 2)
      .select(col("wc"),
        explode(transform(sequence(lit(1), size(col("syms")) - 1),
          i => struct(element_at(col("syms"), i).as("p1"),
            element_at(col("syms"), i + 1).as("p2")))).as("p"))
      .groupBy(col("p.p1").as("p1"), col("p.p2").as("p2"))
      .agg(sum(col("wc")).as("freq"))

  /** Greedy left-to-right application of ONE merge rule (p1, p2) to a
    * symbol array — the fold both trainers share (see bpeStages scaladoc
    * for the exactness argument). */
  private[graft] def bpeApply(syms: Column, p1: Column, p2: Column): Column =
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(size(acc) === 0, array(x))
        .when(element_at(acc, -1) === p1 && x === p2,
          concat(slice(acc, lit(1), size(acc) - 1), array(concat(p1, p2))))
        .otherwise(concat(acc, array(x))))

  /** Shared trained tokenizer for the t16 family (the winnowTable
    * pattern): the CHECKPOINTED trainer at BpeRounds, whose per-round
    * InterStage tables make the second and third gate's dict lookup a
    * parquet scan instead of a full re-train — t16/t16b/t16c each paid
    * the 3-round training (~1 s each at sf0.1) before this. Merge rules
    * come back driver-side (BpeRounds rows — the argmax collect is the
    * trainer's own shape, not a gate-side shortcut); equivalence with the
    * lineage-accreting bpeStages below is BpeSpec-pinned.
    */
  private val bpeSharedMemo = scala.collection.concurrent.TrieMap
    .empty[String, (Seq[(Long, String, String, Long)], String)]
  private def bpeShared(s: SparkSession, d: String)
      : (Seq[(Long, String, String, Long)], DataFrame) = {
    // memoized per corpus per JVM: without this, every gate call
    // re-collects the per-round argmaxes — 3 pair-count jobs — even though
    // the dicts themselves are InterStage-cached. The memo holds the merge
    // TUPLES plus the final checkpoint's InterStage key, never a
    // DataFrame: the frame is re-resolved through InterStage with the
    // CALLER's session on every call, so a session restart in the same
    // JVM cannot hand a consumer a frame bound to a stopped session (the
    // by-name rebuild below only runs if the checkpoint were somehow
    // evicted — InterStage tables share this memo's JVM lifetime).
    val corpus = InterStage.tableKey(d, "documents")
    val (merges, finKey) = bpeSharedMemo.getOrElseUpdate(corpus, {
      val (m, _) = bpeTrainCheckpointed(s, d, BpeRounds)
      (m, s"$corpus|bpe|r${m.size}")
    })
    (merges, InterStage.materialize(s, finKey,
      bpeTrainCheckpointed(s, d, BpeRounds)._2))
  }

  /** Lineage-accreting reference shape (no checkpoint): kept as the
    * equivalence baseline BpeSpec pins bpeTrainCheckpointed against, and
    * as the contrast curve of SCALE.md's r14 BPE rows. Gates route
    * through bpeShared.
    */
  private[graft] def bpeStages(s: SparkSession, d: String): (Seq[DataFrame], DataFrame) = {
    var cur = bpeInit(s, d)
    val merges = (1 to BpeRounds).map { r =>
      val best = bpePairs(cur)
        .orderBy(col("freq").desc, col("p1"), col("p2")).limit(1)
      cur = cur.crossJoin(broadcast(
          best.select(col("p1").as("bp1"), col("p2").as("bp2"))))
        .select(col("w"), col("wc"),
          bpeApply(col("syms"), col("bp1"), col("bp2")).as("syms"))
      best.select(lit(r.toLong).as("merge_round"), col("p1"), col("p2"),
        col("freq"))
    }
    (merges, cur)
  }

  /** Production-round-count BPE trainer: the SAME round algebra as
    * bpeStages (bpePairs → deterministic top-1 → bpeApply), but the symbol
    * table is CHECKPOINTED to an InterStage parquet after every round, so
    * round r+1's plan is a flat parquet scan instead of r nested
    * aggregate-fold layers — without it Catalyst re-analyzes (and the
    * executor re-computes) the whole lineage every round and per-round
    * cost grows with r (SCALE.md round 14 measures both curves). The merge
    * rule is one row per round, so it is collected driver-side and folded
    * back in as literals — the per-round plan is scan → map → write, and a
    * rounds-long training run is a chain of such plans, each O(dict).
    *
    * RESUME. With `stateDir = None`, checkpoints live in the JVM-lifetime
    * InterStage root: a longer run reuses a shorter run's dict tables
    * within one JVM, but a RESTARTED process replays every round's argmax
    * job. With `stateDir = Some(dir)`, the trainer is durable: each round
    * commits its dict (`dir/dict/r=N`) and THEN its one-row merge rule
    * (`dir/merges/r=N` — the round's commit marker), so a new JVM
    * fast-forwards over the longest committed prefix with ZERO jobs for
    * those rounds (merge rules read back from parquet, the resume dict is
    * one scan) and trains only the remainder; a crash between the two
    * writes just re-trains that round (deterministic argmax → identical
    * rule). Dictionary exhaustion persists as a `_exhausted` marker so a
    * resumed run with a higher round count does not re-probe a collapsed
    * dict, and a `_corpus` marker pins the state to its corpus fingerprint
    * (same strictness as InterStage.tableKey: a rewritten corpus
    * invalidates the state loudly rather than resuming across it).
    * State storage stays O(dict + rounds), not O(dict × rounds): each
    * commit prunes dicts older than round N-1 (merge rules — 1 row/round —
    * are kept forever; a fewer-rounds ask rebuilds its dict from them via
    * [[bpeReplay]]).
    * Single-writer, like every state dir in this library.
    *
    * Returns (merge rules as (round, p1, p2, freq), final symbol table).
    * `onRound` sees each LIVE-TRAINED round's wall-clock seconds (resumed
    * rounds don't fire it) — probe instrumentation and the resume spec's
    * no-jobs-for-the-prefix assertion hook.
    */
  /** Rebuild round `rules.length`'s symbol table by applying the committed
    * merge rules, in order, to a fresh per-character init — the
    * deterministic twin of training that never runs an argmax job (the
    * same greedy-apply step training used, fed the recorded winners).
    * Serves fewer-rounds-than-kept resumes after the trainer's dict prune.
    * The chain collapses through the JVM-lifetime InterStage every 32
    * rules so a deep replay stays scan→map→write per segment instead of
    * nesting thousands of apply expressions into one plan.
    */
  private def bpeReplay(s: SparkSession, d: String, key: String,
                        rules: Seq[(Long, String, String, Long)]): DataFrame = {
    var cur = bpeInit(s, d)
    for (((_, p1, p2, _), i) <- rules.zipWithIndex) {
      cur = cur.select(col("w"), col("wc"),
        bpeApply(col("syms"), lit(p1), lit(p2)).as("syms"))
      if ((i + 1) % 32 == 0)
        cur = InterStage.materialize(s, s"$key|bpe-replay|r${i + 1}", cur)
    }
    cur
  }

  def bpeTrainCheckpointed(s: SparkSession, d: String, rounds: Int,
                           onRound: (Int, Double) => Unit = (_, _) => (),
                           stateDir: Option[String] = None)
      : (Seq[(Long, String, String, Long)], DataFrame) = {
    val key = InterStage.tableKey(d, "documents")
    import org.apache.hadoop.fs.{Path => HPath}
    def fsOf(p: String) =
      new HPath(p).getFileSystem(s.sparkContext.hadoopConfiguration)
    val merges = Seq.newBuilder[(Long, String, String, Long)]

    val (start, cur0, exhausted0): (Int, DataFrame, Boolean) = stateDir match {
      case None =>
        (0, InterStage.materialize(s, s"$key|bpe|r0", bpeInit(s, d)), false)
      case Some(dir) =>
        val fs = fsOf(dir)
        val corpusMarker = new HPath(s"$dir/_corpus")
        if (fs.exists(corpusMarker)) {
          val in = fs.open(corpusMarker)
          val prev = try new String(
            org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
          finally in.close()
          require(prev == key, s"bpeTrainCheckpointed: state under $dir was " +
            s"trained on a different corpus ($prev, now $key) — point " +
            "stateDir at a fresh location or delete the stale state")
        } else {
          val out = fs.create(corpusMarker, true)
          try out.write(key.getBytes("UTF-8")) finally out.close()
        }
        // Longest contiguous committed prefix 1..k (merges/r=N is round
        // N's commit marker, written strictly after its dict). Directory
        // EXISTENCE is not commit: FileOutputCommitter creates r=N (with
        // only _temporary inside) before the job commits, so a crash
        // mid-write would otherwise wedge every resume on an unreadable
        // dir. The _SUCCESS file is the commit point; an uncommitted r=N
        // is simply not in the prefix and round N re-trains over it
        // (overwrite mode), which the deterministic argmax makes
        // byte-identical.
        val mroot = new HPath(s"$dir/merges")
        val have: Set[Int] =
          if (!fs.exists(mroot)) Set.empty
          else fs.listStatus(mroot).iterator.map(_.getPath.getName)
            .collect { case n if n.startsWith("r=") =>
              n.stripPrefix("r=").toInt }
            .filter(n => fs.exists(new HPath(s"$dir/merges/r=$n/_SUCCESS")))
            .toSet
        var k = 0
        while (have.contains(k + 1)) k += 1
        val kEff = math.min(k, rounds)
        val resumed: Seq[(Long, String, String, Long)] =
          if (kEff == 0) Seq.empty
          else s.read
            .parquet((1 to kEff).map(r => s"$dir/merges/r=$r"): _*)
            .collect().map(row => (row.getLong(0), row.getString(1),
              row.getString(2), row.getLong(3))).sortBy(_._1).toSeq
        merges ++= resumed
        val cur =
          if (kEff == 0) {
            bpeInit(s, d).write.mode("overwrite").parquet(s"$dir/dict/r=0")
            s.read.parquet(s"$dir/dict/r=0")
          } else if (fs.exists(new HPath(s"$dir/dict/r=$kEff/_SUCCESS")))
            s.read.parquet(s"$dir/dict/r=$kEff")
          else
            // This round's dict was pruned (only the newest two rounds'
            // dicts are kept — see the commit-site prune): rebuild it by
            // replaying the committed rules over a fresh init. Zero argmax
            // jobs, deterministic, so the result is byte-identical to the
            // pruned table.
            bpeReplay(s, d, key, resumed)
        (kEff, cur, fs.exists(new HPath(s"$dir/_exhausted")))
    }

    var cur = cur0
    var r = start + 1
    var exhausted = exhausted0
    while (r <= rounds && !exhausted) {
      val t0 = System.nanoTime()
      val best = bpePairs(cur)
        .orderBy(col("freq").desc, col("p1"), col("p2")).limit(1).collect()
      if (best.isEmpty) { // dict collapsed to single symbols
        exhausted = true
        stateDir.foreach { dir =>
          fsOf(dir).create(new HPath(s"$dir/_exhausted"), true).close()
        }
      } else {
        val (p1, p2) = (best.head.getString(0), best.head.getString(1))
        val freq = best.head.getLong(2)
        merges += ((r.toLong, p1, p2, freq))
        val applied = cur.select(col("w"), col("wc"),
          bpeApply(col("syms"), lit(p1), lit(p2)).as("syms"))
        cur = stateDir match {
          case None => InterStage.materialize(s, s"$key|bpe|r$r", applied)
          case Some(dir) =>
            applied.write.mode("overwrite").parquet(s"$dir/dict/r=$r")
            import s.implicits._
            Seq((r.toLong, p1, p2, freq))
              .toDF("merge_round", "p1", "p2", "freq")
              .coalesce(1).write.mode("overwrite")
              .parquet(s"$dir/merges/r=$r") // commit marker for round r
            // State hygiene: once round r's marker commits, resume needs
            // only dict r (the committed head) and r-1 (a crash before
            // round r+1's marker re-trains it FROM r; the _SUCCESS-deleted
            // case in BpeSpec). At production round counts (~30k merges)
            // keeping every round would pile up thousands of full corpus
            // word-dict copies on state storage. A later ask for FEWER
            // rounds than kept rebuilds its dict from the merge rules
            // (bpeReplay) — rules are 1 row/round and are never pruned.
            // Listing (not r-2 arithmetic) also sweeps strays left by a
            // crash between a previous commit and its prune.
            val pfs = fsOf(dir)
            val droot = new HPath(s"$dir/dict")
            if (pfs.exists(droot))
              pfs.listStatus(droot).iterator.map(_.getPath)
                .filter(p => p.getName.startsWith("r=") &&
                  p.getName.stripPrefix("r=").toInt < r - 1)
                .foreach(p => pfs.delete(p, true))
            s.read.parquet(s"$dir/dict/r=$r")
        }
        onRound(r, (System.nanoTime() - t0) / 1e9)
      }
      r += 1
    }
    (merges.result(), cur)
  }

  /** DuckDB CTEs mirroring bpeStages' base: word-frequency dict + initial
    * per-character symbol rows (pos-indexed, '</w>' terminated).
    */
  private val dBpeBase =
    "w0 AS (SELECT t AS w, count(*)::BIGINT wc FROM " +
      "(SELECT unnest(string_split_regex(text, '\\s+')) AS t FROM documents) q " +
      "WHERE len(t) > 0 GROUP BY 1), " +
      "s0 AS (SELECT w, wc, i AS pos, " +
      "CASE WHEN i <= len(w) THEN w[i:i] ELSE '</w>' END AS sym " +
      "FROM w0, unnest(range(1, len(w) + 2)) u(i))"

  /** One DuckDB BPE round over s{r-1}: pair counts → deterministic top-1
    * → greedy merge application. Greedy left-to-right pairing = within
    * each maximal run of consecutive matches, merge the odd-indexed ones
    * (a taken match consumes its successor); since a merged symbol can
    * never re-match p1 within the round (p1||p2 ≠ p1), matching against
    * the ORIGINAL symbols is exact — see bpeStages.
    */
  private def dBpeRound(r: Int): String = {
    val prev = s"s${r - 1}"
    s"pc$r AS (SELECT p1, p2, sum(wc)::BIGINT freq FROM " +
      s"(SELECT sym p1, lead(sym) OVER (PARTITION BY w ORDER BY pos) p2, wc " +
      s"FROM $prev) q WHERE p2 IS NOT NULL GROUP BY 1, 2), " +
      s"b$r AS (SELECT p1, p2, freq FROM pc$r ORDER BY freq DESC, p1, p2 LIMIT 1), " +
      s"m$r AS (SELECT s.w, s.wc, s.pos, s.sym, " +
      s"COALESCE(s.sym = b.p1 AND lead(s.sym) OVER " +
      s"(PARTITION BY s.w ORDER BY s.pos) = b.p2, FALSE) AS mt " +
      s"FROM $prev s CROSS JOIN b$r b), " +
      s"g$r AS (SELECT *, pos - row_number() OVER " +
      s"(PARTITION BY w, mt ORDER BY pos) AS grp FROM m$r), " +
      s"k$r AS (SELECT *, mt AND (row_number() OVER " +
      s"(PARTITION BY w, mt, grp ORDER BY pos) % 2 = 1) AS take FROM g$r), " +
      s"s$r AS (SELECT w, wc, row_number() OVER (PARTITION BY w ORDER BY pos) AS pos, " +
      s"CASE WHEN take THEN sym || nxt ELSE sym END AS sym FROM " +
      s"(SELECT *, lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt, " +
      s"COALESCE(lag(take) OVER (PARTITION BY w ORDER BY pos), FALSE) AS ptake " +
      s"FROM k$r) q WHERE NOT ptake)"
  }

  private val dBpeCtes: String =
    "WITH " + dBpeBase + ", " + (1 to BpeRounds).map(dBpeRound).mkString(", ")

  /** Stop-shingle document-frequency cutoff for the d2 inverted index: a
    * shingle present in more than this many documents is dropped before the
    * self-join (CCNet-style boilerplate removal). 6 sits below the max df
    * of the smallest test corpus, so the correctness gate exercises the
    * cutoff cross-engine; at production scale this is a tuned constant.
    */
  val DfCutoff = 6

  /** The word-3-shingle inverted index over `documents`, materialized once
    * per corpus per JVM (shared by d2 and d3 — the write-once/read-many
    * inter-stage table of a multi-stage dedup pipeline).
    */
  private def shingleIndex(s: SparkSession, d: String) =
    InterStage.materialize(s, InterStage.tableKey(d, "documents") + "|shingle3",
      TextOps.shingleRows(Tables.load(s, d, "documents"), "doc_id", "text"))

  /** 12-element MinHash signature table derived from the shingle index
    * (d3's candidate source), materialized once per corpus per JVM.
    */
  private def minhashSigTable(s: SparkSession, d: String) =
    InterStage.materialize(s, InterStage.tableKey(d, "documents") + "|minhash12",
      TextOps.minhashSigRows(shingleIndex(s, d), "doc_id", 12))

  /** Distinct winnowing fingerprint rows (shared by t4 and t11),
    * materialized once per corpus per JVM — t11 consumes them twice
    * (fingerprint-frequency groupBy + join-back), which recomputed the
    * whole winnow pass before materialization.
    */
  private def winnowTable(s: SparkSession, d: String) =
    InterStage.materialize(s, InterStage.tableKey(d, "documents") + "|winnow8x4",
      TextOps.winnowRows(Tables.load(s, d, "documents"), "doc_id", "text", 8, 4))

  /** Maximal duplicated-substring spans (20-char grams), materialized once
    * per corpus and shared by the span gate (d9) and the per-doc coverage
    * stats (d9b) — the production shape: the gram-hash count runs once,
    * downstream consumers scan spans.
    */
  private def repSpanTable(s: SparkSession, d: String) =
    InterStage.materialize(s, InterStage.tableKey(d, "documents") + "|repspans20",
      TextOps.repeatedSpanRows(Tables.load(s, d, "documents"), "doc_id", "text", 20))

  /** DuckDB CTE chain reproducing repeatedSpanRows bit-for-bit: same
    * position range, same 60-bit sha2 gram hash, same gap<=G island merge.
    */
  private val dRepSpanCtes =
    "g AS (SELECT doc_id, text, unnest(range(1, length(text) - 18)) AS pos " +
      "FROM documents WHERE length(text) >= 20), " +
      s"h AS (SELECT doc_id, pos, ${dH60("substr(text, pos::INT, 20)")} gh FROM g), " +
      "occ AS (SELECT gh FROM h GROUP BY gh HAVING count(*) >= 2), " +
      "dup AS (SELECT doc_id, pos FROM h JOIN occ USING (gh)), " +
      "isl AS (SELECT doc_id, pos, CASE WHEN pos - lag(pos) OVER " +
      "(PARTITION BY doc_id ORDER BY pos) > 20 THEN 1 ELSE 0 END brk FROM dup), " +
      "grpd AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos " +
      "ROWS UNBOUNDED PRECEDING) grp FROM isl), " +
      "spans AS (SELECT doc_id, min(pos) AS span_start, " +
      "max(pos) - min(pos) + 20 AS span_len FROM grpd GROUP BY doc_id, grp)"

  /** 60-bit SimHash signature table (shared by d4 and d5), materialized
    * once per corpus per JVM. Built as explode → codegen'd sha2 →
    * native bounded-state aggregate: the token hashing (the real work —
    * one sha2 per token) stays a top-level whole-stage-codegen expression,
    * and SimHashAgg folds the 60 per-bit ±1 sums in a 240-byte buffer per
    * document, partial-merged map-side. The rejected forms each lose
    * somewhere: `simhash60(tokens(...))` per row hashes inside an
    * interpreted HOF lambda (measured ~4x the whole materialize phase at
    * the 10x probe); the pure-relational simhashRows pays a ~12k-node
    * 60-aggregate plan (~3 s of optimizer/codegen constant per session);
    * collect_list + SimHash60F keeps the entire document's token hashes
    * in one aggregation buffer — unbounded per-doc state that a
    * pathological 10^8-token document turns into an executor OOM. Integer
    * bit-sums are order-independent, so all forms are bit-identical
    * (spec'd in TextOpsSpec) and match the oracle's unnest-and-sum CTEs.
    */
  private def simhashTable(s: SparkSession, d: String) =
    InterStage.materialize(s, InterStage.tableKey(d, "documents") + "|simhash60",
      TextOps.simhashAggRows(Tables.load(s, d, "documents"), "doc_id", "text"))

  /** SimHash near-dup pairs at Hamming distance <= 8, via the EXACT 9-band
    * pigeonhole join (see d5): any pair within hamming 8 of a 60-bit
    * signature shares at least one untouched band, so candidates come from
    * a band-key equi-join (the O(n) scale path) and the exact hamming
    * filter makes the result identical to a brute pair scan. Shared by d5
    * (the pair gate) and d6 (the clustering gate).
    */
  private def simhashPairs(s: SparkSession, d: String): DataFrame =
    InterStage.materialize(s, InterStage.tableKey(d, "documents") + "|shpairs8",
      simhashPairsPlan(s, d))

  /** Connected-component labels (doc_id, cluster_id) over the SimHash pair
    * graph, materialized once per corpus per JVM and consumed by BOTH the
    * cluster gate (d6) and the canonical prune (d7) — the production
    * composition: the iterative CC pass runs once, every downstream
    * consumer scans the label table with pruning/pushdown. The live
    * (un-materialized) CC iteration remains separately benchmarked as its
    * own cc_live row of `Probe scale` so its scaling stays tracked.
    */
  private def ccLabelTable(s: SparkSession, d: String): DataFrame =
    InterStage.materialize(s, InterStage.tableKey(d, "documents") + "|cclabels8",
      Graph.connectedComponents(
        Tables.load(s, d, "documents").select("doc_id"), "doc_id",
        simhashPairs(s, d), col("doc_id_1"), col("doc_id_2")))

  /** The shared 9-band pigeonhole explode (TextOps.simhashBands60) over
    * this module's (doc_id, sh) signature shape — one band layout for
    * d5/d6/d8 and the streaming ingest screen.
    */
  private def simhashBands(sig: DataFrame): DataFrame =
    TextOps.simhashBands60(sig, "doc_id", "sh")

  private def simhashPairsPlan(s: SparkSession, d: String): DataFrame = {
    val sig = simhashTable(s, d).withColumnRenamed("simhash", "sh")
    val bands = simhashBands(sig)
    bands.as("x").join(bands.as("y"),
        col("x.bidx") === col("y.bidx") && col("x.bval") === col("y.bval") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_id_1"), col("y.doc_id").as("doc_id_2"),
        bit_count(col("x.sh").bitwiseXOR(col("y.sh"))).cast("long").as("hamming"))
      .where(col("hamming") <= 8)
      .distinct()
  }

  /** DuckDB CTEs computing the 60-bit SimHash signature table (`sig`:
    * doc_id, sh) — the oracle mirror of TextOps.simhashRows, shared by the
    * d4/d5/d6 oracles.
    */
  private val dSimhashCtes =
    "toks AS (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) w " +
      "FROM documents), " +
      s"th AS (SELECT doc_id, ${dH60("w")} h FROM toks), " +
      "bits AS (SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) s " +
      "FROM th, unnest(range(0, 60)) u(b) GROUP BY 1, 2), " +
      "sig AS (SELECT doc_id, sum(CASE WHEN s > 0 THEN 1::BIGINT << b ELSE 0 END) sh " +
      "FROM bits GROUP BY doc_id)"

  /** Build every inter-stage table the text queries share, so a caller
    * (Bench) can account the one-time materialization cost in a dedicated
    * warm phase instead of whichever query happens to run first. The two
    * chains are independent — SparkEntry.preMaterialize runs them (and the
    * vector chain) as concurrent jobs in the one session.
    */
  def warmInterStage(s: SparkSession, d: String): Unit = {
    warmShingleChain(s, d)
    warmWinnowChain(s, d)
    warmSimhashChain(s, d)
    warmRepSpanChain(s, d)
  }

  /** Repeated-substring span table (d9/d9b) — reads documents directly. */
  def warmRepSpanChain(s: SparkSession, d: String): Unit = {
    repSpanTable(s, d)
    ()
  }

  /** Shingle index → MinHash signatures (d2/d3/x1). */
  def warmShingleChain(s: SparkSession, d: String): Unit = {
    minhashSigTable(s, d)  // builds the shingle index first
    ()
  }

  /** Winnowing fingerprint rows (t4/t11) — reads documents directly, so it
    * is its own chain, not a tail of the shingle chain.
    */
  def warmWinnowChain(s: SparkSession, d: String): Unit = {
    winnowTable(s, d)
    ()
  }

  /** Trained BPE tokenizer (t16/t16b/t16c): per-round dicts + memoized
    * merge rules. */
  def warmBpeChain(s: SparkSession, d: String): Unit = {
    bpeShared(s, d)
    ()
  }

  /** SimHash signatures → hamming pair set → CC labels (d4/d5/d6/d7). */
  def warmSimhashChain(s: SparkSession, d: String): Unit = {
    ccLabelTable(s, d)     // builds simhash signatures, then pairs, then CC
    ()
  }

  /** The UN-materialized CC label plan — the live iterative pass over the
    * (materialized) pair table. `Probe scale` and `Probe query` time this
    * directly as the cc_live row so the CC iteration keeps its own tracked
    * scaling number now that the gates (d6/d7) read the shared label table.
    */
  def ccLabelsLive(s: SparkSession, d: String): DataFrame =
    Graph.connectedComponents(
      Tables.load(s, d, "documents").select("doc_id"), "doc_id",
      simhashPairs(s, d), col("doc_id_1"), col("doc_id_2"))

  val all: Seq[(String, GQ)] = Seq(

    // D1 — exact deduplication: hash-groupBy on the full text; canonical
    // row = min doc_id. One shuffle on the 64-hex digest — the standard
    // exact-dedup pass over a 100 TB corpus.
    "d1_exact_dedup" -> GQ(
      (s, d) => Tables.load(s, d, "documents")
        .groupBy(sha2(col("text"), 256).as("text_sha"))
        .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies")),
      "SELECT sha256(text) AS text_sha, min(doc_id) AS canonical_id, " +
        "count(*) AS n_copies FROM documents GROUP BY 1"),

    // T1 — token counting: whitespace tokens + BPE-ish greedy subword
    // chunks via regexp_extract_all. Narrow per-row projection.
    "t1_token_count" -> GQ(
      (s, d) => Tables.load(s, d, "documents").select(
        col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z0-9]{1,4}"), lit(0)))
          .cast("long").as("subword_tokens"),
        length(col("text")).cast("long").as("chars")),
      "SELECT doc_id, len(string_split_regex(text, '\\s+')) AS ws_tokens, " +
        "len(regexp_extract_all(text, '[a-z0-9]{1,4}')) AS subword_tokens, " +
        "length(text) AS chars FROM documents"),

    // T2 — quality scoring: type-token ratio, mean token length, stopword
    // ratio. All per-row folds; each ratio is one exact-int double division.
    "t2_quality_score" -> GQ(
      (s, d) => {
        val t = TextOps.tokens(col("text"))
        val n = size(t)
        val stopArr = stopwords.map(lit(_))
        Tables.load(s, d, "documents").select(
          col("doc_id"), n.cast("long").as("n_tokens"),
          (size(array_distinct(t)).cast("double") / n).as("type_token_ratio"),
          (aggregate(t, lit(0L), (acc, x) => acc + length(x)).cast("double") / n).as("mean_token_len"),
          (size(filter(t, x => x.isInCollection(stopwords))).cast("double") / n).as("stopword_ratio"),
          (size(array_distinct(t)).cast("double") / n > 0.15).as("is_diverse"))
      },
      "WITH t0 AS (SELECT doc_id, string_split_regex(text, '\\s+') t FROM documents) " +
        "SELECT doc_id, len(t) AS n_tokens, " +
        "len(list_distinct(t))::DOUBLE / len(t) AS type_token_ratio, " +
        "list_sum(list_transform(t, x -> length(x)))::DOUBLE / len(t) AS mean_token_len, " +
        s"len(list_filter(t, x -> x IN (${stopwords.map("'" + _ + "'").mkString(", ")})))::DOUBLE / len(t) AS stopword_ratio, " +
        "len(list_distinct(t))::DOUBLE / len(t) > 0.15 AS is_diverse FROM t0"),

    // T3 — language ID by distinctive-word voting: pass 1 builds per-lang
    // relative word frequencies from the corpus (exact-int double division,
    // argmax by (score, lang)); pass 2 assigns each word to its argmax lang
    // (vocabulary-sized table -> broadcast join) and each doc votes by
    // majority. Deterministic and integer-exact except single divisions.
    "t3_langid_vote" -> GQ(
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        val toks = docs.select(col("doc_id"), col("lang"),
          explode(TextOps.tokens(col("text"))).as("w"))
        val wc = toks.groupBy("lang", "w").agg(count(lit(1)).as("c"))
        val tot = wc.groupBy("lang").agg(sum(col("c")).as("t"))
        val assigned = wc.join(tot, "lang")
          .withColumn("score", col("c").cast("double") / col("t"))
          .groupBy("w")
          .agg(max_by(col("lang"), struct(col("score"), col("lang"))).as("wlang"))
        toks.join(broadcast(assigned), "w")
          .groupBy(col("doc_id"), col("lang"), col("wlang")).agg(count(lit(1)).as("v"))
          .groupBy(col("doc_id"), col("lang"))
          .agg(max_by(col("wlang"), struct(col("v"), col("wlang"))).as("pred_lang"))
          .withColumn("correct", col("lang") === col("pred_lang"))
      },
      "WITH toks AS (SELECT doc_id, lang, unnest(string_split_regex(text, '\\s+')) w " +
        "FROM documents), " +
        "wc AS (SELECT lang, w, count(*) c FROM toks GROUP BY 1, 2), " +
        "tot AS (SELECT lang, sum(c) t FROM wc GROUP BY 1), " +
        "assigned AS (SELECT w, wc.lang AS wlang FROM wc JOIN tot ON wc.lang = tot.lang " +
        "QUALIFY row_number() OVER (PARTITION BY w ORDER BY c::DOUBLE / t DESC, wc.lang DESC) = 1), " +
        "votes AS (SELECT doc_id, t.lang, wlang, count(*) v FROM toks t " +
        "JOIN assigned a ON t.w = a.w GROUP BY 1, 2, 3) " +
        "SELECT doc_id, lang, wlang AS pred_lang, lang = wlang AS correct FROM votes " +
        "QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY v DESC, wlang DESC) = 1"),

    // T4 — winnowing fingerprints (8-char grams, window 4): per-doc
    // fingerprint count + digest of the sorted fingerprint set.
    "t4_winnow_fingerprint" -> GQ(
      (s, d) => TextOps.winnowAggregate(winnowTable(s, d), "doc_id"),
      "WITH g AS (SELECT doc_id, " +
        "unnest(list_transform(list_transform(range(1, length(text) - 6), " +
        s"i -> substr(text, i::INT, 8)), s -> ${dH60("s")} % 4294967296)) gh, " +
        "unnest(range(1, length(text) - 6)) pos FROM documents), " +
        "w AS (SELECT doc_id, pos, " +
        "min(gh) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) win_min, " +
        "max(pos) OVER (PARTITION BY doc_id) max_pos FROM g), " +
        "fp AS (SELECT DISTINCT doc_id, win_min FROM w WHERE pos <= max_pos - 3) " +
        "SELECT doc_id, count(*) AS n_fingerprints, " +
        "sha256(array_to_string(list_sort(list(win_min)), '-')) AS fp_digest " +
        "FROM fp GROUP BY doc_id"),

    // T11 — corpus duplication rate per document: the fraction of a doc's
    // winnowing fingerprints that occur in at least one OTHER document —
    // the corpus-level dup-QA metric run after (and to validate) a dedup
    // pass. A per-fingerprint occurrence count over ONE shuffle on the
    // fingerprint hash (corpus-wide, uniformly distributed — the shuffle
    // key at 100 TB) via a window count, then the per-doc rollup; the
    // previous groupBy-then-join-back formulation shuffled the fingerprint
    // table (the big side) TWICE for the same answer (round-14 re-measure:
    // 0.47 s → 0.23 s clean median at sf0.1, back under the 0.296 s
    // committed reference). The fraction is a single
    // exact int division, so no rounding is needed for the cross-engine
    // compare. Docs shorter than the gram length have no fingerprints and
    // drop out, as in t4.
    "t11_dup_rate" -> GQ(
      (s, d) => {
        val fp = winnowTable(s, d)
        val nd = count(lit(1)).over(Window.partitionBy(col("win_min")))
        fp.withColumn("nd", nd)
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_fingerprints"),
            sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_shared"))
          .select(col("doc_id"), col("n_fingerprints"), col("n_shared"),
            (col("n_shared").cast("double") / col("n_fingerprints"))
              .as("shared_frac"))
      },
      "WITH g AS (SELECT doc_id, " +
        "unnest(list_transform(list_transform(range(1, length(text) - 6), " +
        s"i -> substr(text, i::INT, 8)), s -> ${dH60("s")} % 4294967296)) gh, " +
        "unnest(range(1, length(text) - 6)) pos FROM documents), " +
        "w AS (SELECT doc_id, pos, " +
        "min(gh) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) win_min, " +
        "max(pos) OVER (PARTITION BY doc_id) max_pos FROM g), " +
        "fp AS (SELECT DISTINCT doc_id, win_min FROM w WHERE pos <= max_pos - 3), " +
        "sh AS (SELECT win_min, count(*) nd FROM fp GROUP BY win_min) " +
        "SELECT doc_id, count(*) AS n_fingerprints, " +
        "sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_shared, " +
        "sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)::DOUBLE / count(*) AS shared_frac " +
        "FROM fp JOIN sh USING (win_min) GROUP BY doc_id"),

    // T5 — pairwise edit distance (unit-cost Levenshtein DP, identical
    // definition in both engines) over a bounded candidate set — the
    // fine-grained verifier a fuzzy-dedup pipeline runs after LSH
    // candidate generation.
    "t5_edit_distance" -> GQ(
      (s, d) => {
        val t = Tables.load(s, d, "documents").where(col("doc_id") < 30)
          .select(col("doc_id"), substring(col("text"), 1, 60).as("prefix"))
        t.as("x").join(t.as("y"), col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("doc_id_1"), col("y.doc_id").as("doc_id_2"),
            levenshtein(col("x.prefix"), col("y.prefix")).cast("long").as("edit_dist"))
          .where(col("edit_dist") <= 40)
      },
      "WITH t AS (SELECT doc_id, substr(text, 1, 60) prefix FROM documents " +
        "WHERE doc_id < 30) " +
        "SELECT x.doc_id doc_id_1, y.doc_id doc_id_2, " +
        "levenshtein(x.prefix, y.prefix) AS edit_dist FROM t x JOIN t y " +
        "ON x.doc_id < y.doc_id WHERE levenshtein(x.prefix, y.prefix) <= 40"),

    // D2 — n-gram Jaccard near-dup pairs over an inverted index with a
    // document-frequency cutoff: a shingle with df=k contributes k² rows to
    // the self-join, so hot boilerplate shingles are the one quadratic
    // hazard of this design at corpus scale. Dropping shingles with
    // df > DfCutoff (CCNet-style stop-shingle removal) bounds the join at
    // O(rows·DfCutoff) while keeping the discriminative rare shingles that
    // identify near-duplicates. `inter` counts shared rare shingles;
    // denominators stay the full distinct-shingle counts, so `jaccard` is a
    // conservative (lower-bound) similarity.
    "d2_ngram_jaccard_pairs" -> GQ(
      (s, d) => {
        // Index keyed by the 31-bit shingle hash — long join keys shuffle
        // far cheaper than shingle strings; materialized inter-stage table
        // (shared with d3), so the self-join re-scans a pruned parquet
        // instead of recomputing or pinning cache.
        val inv = shingleIndex(s, d)
        val keep = inv.groupBy("s").agg(count(lit(1)).as("df"))
          .where(col("df") <= DfCutoff).select("s")
        val rare = inv.join(keep, "s")
        rare.as("x").join(rare.as("y"),
            col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
          .groupBy(col("x.doc_id").as("doc_id_1"), col("y.doc_id").as("doc_id_2"),
            col("x.n").as("n1"), col("y.n").as("n2"))
          .agg(count(lit(1)).as("inter"))
          .withColumn("jaccard",
            col("inter").cast("double") / (col("n1") + col("n2") - col("inter")))
          .where(col("jaccard") >= 0.03)
          .select(col("doc_id_1"), col("doc_id_2"), col("inter"), col("jaccard"))
      },
      s"WITH $dShingleCtes, " +
        "inv AS (SELECT doc_id, n, unnest(h) s FROM hashed), " +
        s"keep AS (SELECT s FROM inv GROUP BY s HAVING count(*) <= $DfCutoff), " +
        "rinv AS (SELECT inv.doc_id, inv.n, inv.s FROM inv JOIN keep USING (s)), " +
        "pairs AS (SELECT x.doc_id doc_id_1, y.doc_id doc_id_2, x.n n1, y.n n2, " +
        "count(*) inter FROM rinv x JOIN rinv y ON x.s = y.s AND x.doc_id < y.doc_id " +
        "GROUP BY 1, 2, 3, 4) " +
        "SELECT doc_id_1, doc_id_2, inter, " +
        "inter::DOUBLE / (n1 + n2 - inter) AS jaccard FROM pairs " +
        "WHERE inter::DOUBLE / (n1 + n2 - inter) >= 0.03"),

    // D3 — MinHash+LSH near-dup: 12-element signature over hashed
    // 3-shingles, 4 bands x 3 rows; candidate pairs share a band digest
    // (equi-join on the digest — the O(n) scale path), then exact Jaccard
    // verification. est_sim = matching signature positions / 12.
    "d3_minhash_lsh_pairs" -> GQ(
      (s, d) => {
        // Hash each shingle exactly once (codegen'd, via shingleRows); the
        // index and the signature table are materialized inter-stage
        // parquet (index shared with d2) — they feed four downstream joins.
        val inv = shingleIndex(s, d)
        val sig = minhashSigTable(s, d)
        val ex = sig.select(col("doc_id"),
          posexplode(TextOps.bandDigests(col("sig"), 4, 3))).toDF("doc_id", "bidx", "bh")
        val cand = ex.as("x").join(ex.as("y"),
            col("x.bidx") === col("y.bidx") && col("x.bh") === col("y.bh") &&
              col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("doc_id_1"), col("y.doc_id").as("doc_id_2")).distinct()
        val inter = cand
          .join(inv.as("i1"), col("doc_id_1") === col("i1.doc_id"))
          .join(inv.as("i2"), col("doc_id_2") === col("i2.doc_id") && col("i1.s") === col("i2.s"))
          .groupBy(col("doc_id_1"), col("doc_id_2"))
          .agg(count(lit(1)).as("inter"))
        // n1/n2 come from the always-matching sig joins, not the left-joined
        // intersection aggregate: a candidate pair with zero shared shingles
        // would otherwise get NULL sizes (and NULL jaccard) here while the
        // oracle computes 0.0 from a.n + b.n.
        val sigs = sig.select(col("doc_id"), col("n"), col("sig"))
        cand
          .join(inter, Seq("doc_id_1", "doc_id_2"), "left")
          .join(sigs.as("s1"), col("doc_id_1") === col("s1.doc_id"))
          .join(sigs.as("s2"), col("doc_id_2") === col("s2.doc_id"))
          .select(col("doc_id_1"), col("doc_id_2"),
            (aggregate(zip_with(col("s1.sig"), col("s2.sig"),
              (a, b) => when(a === b, 1L).otherwise(0L)), lit(0L), (x, y) => x + y)
              .cast("double") / 12).as("est_sim"),
            (coalesce(col("inter"), lit(0L)).cast("double") /
              (col("s1.n") + col("s2.n") - coalesce(col("inter"), lit(0L)))).as("jaccard"))
      },
      s"WITH $dShingleCtes, " +
        // WHERE n > 0: a document with < 3 tokens has no shingle rows in
        // Spark's relational index (so no signature row); the oracle must
        // drop it too or its all-NULL signature fabricates candidate pairs.
        "sig AS (SELECT doc_id, n, list_transform(range(0, 12), " +
        s"i -> list_min(list_transform(h, v -> ${dPerm("i", "v")}))) sig FROM hashed WHERE n > 0), " +
        "bands AS (SELECT doc_id, j bidx, sha256(array_to_string(sig[j*3+1:j*3+3], '-')) bh " +
        "FROM sig, unnest(range(0, 4)) u(j)), " +
        "cand AS (SELECT DISTINCT x.doc_id doc_id_1, y.doc_id doc_id_2 FROM bands x " +
        "JOIN bands y ON x.bidx = y.bidx AND x.bh = y.bh AND x.doc_id < y.doc_id), " +
        "inv AS (SELECT doc_id, unnest(h) s FROM hashed), " +
        "inter AS (SELECT doc_id_1, doc_id_2, count(*) inter FROM cand " +
        "JOIN inv i1 ON doc_id_1 = i1.doc_id JOIN inv i2 ON doc_id_2 = i2.doc_id " +
        "AND i1.s = i2.s GROUP BY 1, 2) " +
        "SELECT c.doc_id_1, c.doc_id_2, " +
        "len(list_filter(list_zip(a.sig, b.sig), z -> z[1] = z[2]))::DOUBLE / 12 AS est_sim, " +
        "coalesce(i.inter, 0)::DOUBLE / (a.n + b.n - coalesce(i.inter, 0)) AS jaccard " +
        "FROM cand c LEFT JOIN inter i ON c.doc_id_1 = i.doc_id_1 AND c.doc_id_2 = i.doc_id_2 " +
        "JOIN sig a ON c.doc_id_1 = a.doc_id JOIN sig b ON c.doc_id_2 = b.doc_id"),

    // D4 — SimHash signatures: 60-bit frequency-weighted sign hash per doc.
    // Relational form: explode tokens, hash at top level (codegen), 60
    // per-bit sign sums in one hash aggregate keyed by doc.
    "d4_simhash_sig" -> GQ(
      (s, d) => simhashTable(s, d),
      "WITH toks AS (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) w " +
        "FROM documents), " +
        s"th AS (SELECT doc_id, ${dH60("w")} h FROM toks), " +
        "bits AS (SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) s " +
        "FROM th, unnest(range(0, 60)) u(b) GROUP BY 1, 2) " +
        // ::BIGINT: DuckDB sum(BIGINT) yields HUGEINT (arrow decimal128),
        // which the driver's type-sensitive hasher rejects against Spark's
        // int64 even when every value is equal (round-1 d4 failure).
        "SELECT doc_id, sum(CASE WHEN s > 0 THEN 1::BIGINT << b ELSE 0 END)::BIGINT AS simhash " +
        "FROM bits GROUP BY doc_id"),

    // D5 — SimHash near-dup pairs by Hamming distance <= 8 on the 60-bit
    // signatures. EXACT banded join: split the signature into 9 disjoint
    // bit bands — any pair within hamming 8 has >= 1 untouched band
    // (pigeonhole), so candidates = pairs sharing a (band_idx, band_bits)
    // key via equi-join (the O(n) scale path), then the exact hamming
    // filter. Identical result set to a brute pair scan, guaranteed.
    "d5_simhash_hamming_pairs" -> GQ(
      (s, d) => simhashPairs(s, d),
      s"WITH $dSimhashCtes " +
        "SELECT x.doc_id doc_id_1, y.doc_id doc_id_2, " +
        "bit_count(xor(x.sh, y.sh))::BIGINT AS hamming FROM sig x JOIN sig y " +
        "ON x.doc_id < y.doc_id WHERE bit_count(xor(x.sh, y.sh)) <= 8"),

    // D6 — near-dup CLUSTERS: connected components over the d5 SimHash
    // pair graph, electing the min doc_id of each component as the
    // canonical survivor — the step that turns pairwise similarity into
    // the actual corpus prune ("keep one per cluster") of a training-data
    // dedup pipeline. The component labels come from iterated min-label
    // propagation (Graph.connectedComponents — O(diameter) shuffle-join
    // rounds, no driver-side graph), materialized ONCE per corpus in the
    // shared ccLabelTable and scanned here and by d7 — the two-consumer
    // InterStage composition a production prune runs (the live iteration
    // keeps its own cc_live row in `Probe scale`). The oracle recomputes
    // the same closure with a recursive CTE, which is only feasible
    // because the banded pair join is EXACTLY the brute-force pair set.
    "d6_dup_clusters" -> GQ(
      (s, d) => ccLabelTable(s, d)
        .withColumn("is_canonical", col("cluster_id") === col("doc_id")),
      s"WITH RECURSIVE $dSimhashCtes, " +
        "pairs AS (SELECT x.doc_id a, y.doc_id b FROM sig x JOIN sig y " +
        "ON x.doc_id < y.doc_id WHERE bit_count(xor(x.sh, y.sh)) <= 8), " +
        "sym AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs), " +
        "reach(n, m) AS (SELECT doc_id, doc_id FROM documents " +
        "UNION SELECT r.n, s.b FROM reach r JOIN sym s ON r.m = s.a) " +
        "SELECT n AS doc_id, min(m) AS cluster_id, min(m) = n AS is_canonical " +
        "FROM reach GROUP BY n"),

    // D8 — incremental near-dup screen: the everyday production shape — a
    // new batch (here the doc_id % 13 slice) checked against the HISTORICAL
    // corpus before ingest. Candidates come from the same 9-band pigeonhole
    // equi-join as d5, but one-sided (fresh bands × history bands), so the
    // per-batch cost is bands(batch) × band occupancy in history — linear
    // in the batch, never a rescan of the corpus — and the band key is the
    // shuffle key. Complete for hamming <= 8 (the d5 bound), so the flag
    // equals the oracle's brute-force EXISTS. At 100 TB the history band
    // table is the pre-materialized index an ingest pipeline keeps warm.
    "d8_incremental_dedup" -> GQ(
      (s, d) => {
        val sig = simhashTable(s, d).withColumnRenamed("simhash", "sh")
        val isFresh = pmod(col("doc_id"), lit(13L)) === 0
        val fresh = sig.where(isFresh)
        val dupIds = simhashBands(fresh).as("f")
          .join(simhashBands(sig.where(!isFresh)).as("h"),
            col("f.bidx") === col("h.bidx") && col("f.bval") === col("h.bval"))
          .where(bit_count(col("f.sh").bitwiseXOR(col("h.sh"))) <= 8)
          .select(col("f.doc_id")).distinct()
          .withColumn("dup", lit(true))
        fresh.join(dupIds, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("dup"), lit(false)).as("is_dup_of_history"))
      },
      s"WITH $dSimhashCtes, " +
        "f AS (SELECT doc_id, sh FROM sig WHERE doc_id % 13 = 0), " +
        "h AS (SELECT doc_id, sh FROM sig WHERE doc_id % 13 != 0) " +
        "SELECT f.doc_id, EXISTS(SELECT 1 FROM h " +
        "WHERE bit_count(xor(f.sh, h.sh)) <= 8) AS is_dup_of_history FROM f"),

    // D7 — canonical corpus prune: the end artifact of the dedup pipeline.
    // Clusters (d6) collapse to one kept document each — the cluster's min
    // doc_id — and the kept rows ride out with their cluster's member
    // count. The prune is one equi-join of the corpus against the
    // cluster-canonical ids (doc_id is the shuffle key both sides; at
    // 100 TB the cluster table is the dedup rate × corpus — small — and
    // broadcasts). The labels come from the SAME materialized ccLabelTable
    // d6 scans — CC runs once per corpus, and the prune itself is the
    // cluster-count aggregate plus one equi-join, exactly the marginal
    // cost a production composition pays.
    "d7_canonical_prune" -> GQ(
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        val clusters = ccLabelTable(s, d).groupBy(col("cluster_id"))
          .agg(count(lit(1)).as("n_members"))
        docs.join(clusters, docs("doc_id") === clusters("cluster_id"))
          .select(col("doc_id"), col("n_members"), col("n_chars"))
      },
      s"WITH RECURSIVE $dSimhashCtes, " +
        "pairs AS (SELECT x.doc_id a, y.doc_id b FROM sig x JOIN sig y " +
        "ON x.doc_id < y.doc_id WHERE bit_count(xor(x.sh, y.sh)) <= 8), " +
        "sym AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs), " +
        "reach(n, m) AS (SELECT doc_id, doc_id FROM documents " +
        "UNION SELECT r.n, s.b FROM reach r JOIN sym s ON r.m = s.a), " +
        "lbl AS (SELECT n, min(m) AS cluster_id FROM reach GROUP BY n), " +
        "cl AS (SELECT cluster_id, count(*) AS n_members FROM lbl GROUP BY 1) " +
        "SELECT d.doc_id, cl.n_members, d.n_chars " +
        "FROM documents d JOIN cl ON d.doc_id = cl.cluster_id"),

    // D9 — exact repeated-substring spans (Lee et al. 2022): the one dedup
    // mode the fuzzy family (d2-d8) can't express — char-exact duplicated
    // REGIONS inside documents, the thing a training pipeline cuts out
    // rather than dropping the whole document. Distributed suffix-array
    // replacement: corpus-wide 20-gram occurrence count on the gram hash
    // (the shuffle key), join back, per-doc island merge. Output is spans,
    // linear in the corpus regardless of duplication rate.
    "d9_repeated_spans" -> GQ(
      (s, d) => repSpanTable(s, d),
      s"WITH $dRepSpanCtes SELECT doc_id, span_start, span_len FROM spans"),

    // D9b — per-doc duplicated-char coverage over the SAME materialized
    // span table: spans are disjoint by construction, so sum(span_len) is
    // the exact duplicated-char count and dup_frac the removable fraction
    // — the corpus-QA number a dedup pass reports. Marginal cost: one
    // groupBy + one left join against the doc table.
    "d9b_span_coverage" -> GQ(
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        val agg = repSpanTable(s, d).groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_spans"), sum(col("span_len")).as("dup_chars"))
        docs.join(agg, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_spans"), lit(0L)).as("n_spans"),
            coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
            (coalesce(col("dup_chars"), lit(0L)).cast("double") / col("n_chars"))
              .as("dup_frac"))
      },
      s"WITH $dRepSpanCtes, " +
        "agg AS (SELECT doc_id, count(*) AS n_spans, sum(span_len)::BIGINT AS dup_chars " +
        "FROM spans GROUP BY doc_id) " +
        "SELECT d.doc_id, coalesce(a.n_spans, 0) AS n_spans, " +
        "coalesce(a.dup_chars, 0) AS dup_chars, " +
        "coalesce(a.dup_chars, 0)::DOUBLE / d.n_chars AS dup_frac " +
        "FROM documents d LEFT JOIN agg a USING (doc_id)"),

    // T6 — repetition / boilerplate stats (Gopher-style quality rules):
    // per doc, the fraction of word bigrams inside the single most
    // frequent bigram and inside any repeated bigram. Bigrams come from a
    // lead() over (doc, position) — the per-doc window sort is bounded by
    // document length, which is capped in any real corpus, so the shape
    // survives scale-up; counts are exact ints, ratios one IEEE division.
    "t6_repetition_stats" -> GQ(
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        val toks = docs.select(col("doc_id"),
          posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "w")))
        val w = Window.partitionBy("doc_id").orderBy("pos")
        val bg = toks.withColumn("nxt", lead("w", 1).over(w))
          .where(col("nxt").isNotNull)
          .select(col("doc_id"), concat_ws(" ", col("w"), col("nxt")).as("b"))
        val bc = bg.groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
        val agg = bc.groupBy("doc_id").agg(
          sum(col("c")).as("n_bigrams"), max(col("c")).as("mx"),
          sum(when(col("c") >= 2, col("c")).otherwise(0L)).as("dup"))
        docs.select(col("doc_id"),
            size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
          .join(agg, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_tokens"),
            coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
            when(col("n_bigrams") > 0,
              col("mx").cast("double") / col("n_bigrams")).as("top_bigram_frac"),
            when(col("n_bigrams") > 0,
              col("dup").cast("double") / col("n_bigrams")).as("dup_bigram_frac"))
      },
      "WITH t0 AS (SELECT doc_id, string_split_regex(text, '\\s+') t FROM documents), " +
        "bg AS (SELECT doc_id, unnest(list_transform(range(1, len(t)), " +
        "i -> t[i] || ' ' || t[i+1])) b FROM t0), " +
        "bc AS (SELECT doc_id, b, count(*) c FROM bg GROUP BY 1, 2), " +
        // ::BIGINT: DuckDB sum(BIGINT) widens to HUGEINT, which the
        // driver's type-sensitive hasher rejects against Spark's int64.
        "agg AS (SELECT doc_id, sum(c)::BIGINT nb, max(c) mx, " +
        "sum(CASE WHEN c >= 2 THEN c ELSE 0 END)::BIGINT dup FROM bc GROUP BY 1) " +
        "SELECT t0.doc_id, len(t) AS n_tokens, coalesce(nb, 0) AS n_bigrams, " +
        "CASE WHEN nb > 0 THEN mx::DOUBLE / nb END AS top_bigram_frac, " +
        "CASE WHEN nb > 0 THEN dup::DOUBLE / nb END AS dup_bigram_frac " +
        "FROM t0 LEFT JOIN agg ON t0.doc_id = agg.doc_id"),

    // T7 — deterministic stratified sampling: keep a document iff the
    // first hex nibble of sha256(salt|doc_id) clears the stratum's rate
    // (1/16 for the over-represented lang, 4/16 elsewhere). Pure
    // per-row projection+filter — no shuffle, no RNG state, reproducible
    // under retries and across engines, and the rate is tunable per
    // stratum without rebalancing (the standard down-sampling pass when
    // mixing corpus sources for training).
    "t7_stratified_sample" -> GQ(
      (s, d) => {
        val nib = substring(
          sha2(concat_ws("|", lit("sample42"), col("doc_id")), 256), 1, 1)
        Tables.load(s, d, "documents")
          .where(when(col("lang") === "en", nib === "0")
            .otherwise(nib.isin("0", "1", "2", "3")))
          .select(col("doc_id"), col("lang"), col("source"))
      },
      "SELECT doc_id, lang, source FROM documents WHERE CASE WHEN lang = 'en' " +
        "THEN substr(sha256('sample42|' || doc_id::VARCHAR), 1, 1) = '0' " +
        "ELSE substr(sha256('sample42|' || doc_id::VARCHAR), 1, 1) " +
        "IN ('0', '1', '2', '3') END"),

    // T8 — top-3 distinctive terms per document by tf·idf, with idf as the
    // rational 1/df instead of log(N/df): the ranking emphasis is the
    // same (monotone decreasing in df) and a single IEEE division is
    // bit-identical across engines where log is not. The vocabulary-sized
    // df table broadcasts; the per-doc top-3 is a row_number window over
    // doc-partitioned scored terms.
    "t8_tfidf_topk" -> GQ(
      (s, d) => {
        val toks = Tables.load(s, d, "documents")
          .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("w"))
        val tf = toks.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
        val dfc = tf.groupBy("w").agg(count(lit(1)).as("df"))
        val scored = tf.join(broadcast(dfc), "w")
          .withColumn("score", col("tf").cast("double") / col("df"))
        Relational.topKPerGroup(scored, Seq(col("doc_id")),
            Seq(col("score").desc, col("w")), 3)
          .select("doc_id", "w", "tf", "df", "score")
      },
      "WITH toks AS (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) w " +
        "FROM documents), " +
        "tf AS (SELECT doc_id, w, count(*) tf FROM toks GROUP BY 1, 2), " +
        "dfc AS (SELECT w, count(*) df FROM tf GROUP BY 1) " +
        "SELECT doc_id, tf.w, tf, df, tf::DOUBLE / df AS score " +
        "FROM tf JOIN dfc ON tf.w = dfc.w " +
        "QUALIFY row_number() OVER (PARTITION BY doc_id " +
        "ORDER BY tf::DOUBLE / df DESC, tf.w) <= 3"),

    // T10 — unigram-LM fluency score (the CCNet-style perplexity-proxy
    // quality filter): every document scored by the mean log10 probability
    // of its tokens under the corpus' own unigram distribution — low
    // scorers are gibberish/boilerplate candidates. The frequency table is
    // corpus-derived (one groupBy) and broadcasts back (vocab << corpus at
    // 100 TB); the per-doc score is one hash aggregate — two shuffles
    // total, both on designed keys, no window. Cross-engine libm-log and
    // sum-reorder noise is <= ~1e-12; round(9) absorbs it while keeping
    // nine decimals of signal.
    "t10_unigram_logprob" -> GQ(
      (s, d) => {
        val toks = Tables.load(s, d, "documents")
          .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("w"))
        val freq = toks.groupBy("w").agg(count(lit(1)).as("c"))
        val tot = freq.agg(sum(col("c")).cast("double").as("t"))
        toks.join(broadcast(freq), "w")
          .crossJoin(broadcast(tot))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"),
            round(avg(log10(col("c").cast("double") / col("t"))), 9)
              .as("logprob"))
      },
      "WITH toks AS (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) w " +
        "FROM documents), " +
        "freq AS (SELECT w, count(*) c FROM toks GROUP BY 1), " +
        "tot AS (SELECT sum(c)::DOUBLE t FROM freq) " +
        "SELECT doc_id, count(*) AS n_tokens, " +
        "round(avg(log10(f.c::DOUBLE / tot.t)), 9) AS logprob " +
        "FROM toks JOIN freq f ON toks.w = f.w, tot GROUP BY doc_id"),

    // T18 — bigram-LM fluency score, the conditional companion to t10's
    // unigram proxy (a KenLM-shaped perplexity filter one order up): every
    // document scored by the mean log10 P(w2|w1) of its bigrams under the
    // corpus' own bigram distribution, P = C(w1 w2) / C(w1 ·) — exact
    // integer counts, one division, so the score is reproducible in any
    // engine. Scoring the training corpus itself means every scored bigram
    // was counted (no zeros, no smoothing constant to tune). Shapes: the
    // per-doc lead window is doc-partitioned (bounded by doc length); the
    // bigram count table is corpus-derived and joined BY KEY (bigram), the
    // t16c corpus⋈dict pattern — at 100 TB the statistic is trained
    // offline and neither side broadcasts; the w1 table is vocab-sized.
    // Docs with < 2 tokens have no bigrams and drop out (both engines).
    "t18_bigram_logprob" -> GQ(
      (s, d) => {
        // Bigrams assemble INSIDE the token array (zip the array with its
        // own 1-shifted slice — native expressions, no lambda), so the
        // per-doc lead() window and its shuffle+sort of the whole exploded
        // token stream disappear: adjacency is a per-row array property,
        // not something to rediscover by re-sorting (doc_id, pos) rows.
        // Docs with < 2 tokens produce an empty zip and drop on explode,
        // exactly as their lead(NULL) rows did.
        val t = TextOps.tokens(col("text"))
        val bg = Tables.load(s, d, "documents")
          .select(col("doc_id"), explode(arrays_zip(
            slice(t, lit(1), greatest(size(t) - 1, lit(0))).as("w1"),
            slice(t, lit(2), greatest(size(t) - 1, lit(0))).as("w2"))).as("p"))
          .select(col("doc_id"), col("p.w1").as("w1"),
            concat_ws(" ", col("p.w1"), col("p.w2")).as("bg"))
        val bgc = bg.groupBy("bg").agg(count(lit(1)).as("c12"))
        val w1c = bg.groupBy("w1").agg(count(lit(1)).as("c1"))
        bg.join(bgc, "bg").join(w1c, "w1")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"),
            round(avg(log10(col("c12").cast("double") / col("c1"))), 9)
              .as("bigram_logprob"))
      },
      "WITH t0 AS (SELECT doc_id, string_split_regex(text, '\\s+') t FROM documents), " +
        "bg AS (SELECT doc_id, s['w1'] AS w1, s['bg'] AS bg FROM (" +
        "SELECT doc_id, unnest(list_transform(range(1, len(t)), " +
        "i -> {'w1': t[i], 'bg': t[i] || ' ' || t[i+1]})) s FROM t0)), " +
        "bgc AS (SELECT bg, count(*) c12 FROM bg GROUP BY 1), " +
        "w1c AS (SELECT w1, count(*) c1 FROM bg GROUP BY 1) " +
        "SELECT doc_id, count(*) AS n_bigrams, " +
        "round(avg(log10(bgc.c12::DOUBLE / w1c.c1)), 9) AS bigram_logprob " +
        "FROM bg JOIN bgc USING (bg) JOIN w1c USING (w1) GROUP BY doc_id"),

    // X1 — benchmark decontamination: flag training documents sharing any
    // word-3-gram with a held-out evaluation set (docs with doc_id % 97 = 0
    // stand in for the benchmark corpus). This is the standard n-gram
    // overlap check run before training (GPT-3 appendix C / Dolma style).
    // The eval 3-gram set is corpus-small (distinct hashes of a few docs),
    // so at 100 TB it broadcasts and the check is a map-side semi-join over
    // the existing shingle inverted index — no new scan of the corpus, no
    // shuffle of text. Counts are exact ints; the ratio is one division.
    "x1_decontaminate" -> GQ(
      (s, d) => {
        val inv = shingleIndex(s, d)
        val evalSet = inv.where(col("doc_id") % 97 === 0)
          .select("s").distinct()
        val train = inv.where(col("doc_id") % 97 =!= 0)
        val hits = train.join(broadcast(evalSet), "s")
          .groupBy("doc_id").agg(count(lit(1)).as("c"))
        train.select(col("doc_id"), col("n")).distinct()
          .join(hits, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n").cast("long").as("n_shingles"),
            coalesce(col("c"), lit(0L)).as("n_contaminated"),
            (coalesce(col("c"), lit(0L)).cast("double") / col("n"))
              .as("contamination_frac"),
            (coalesce(col("c"), lit(0L)) > 0).as("is_contaminated"))
      },
      s"WITH $dShingleCtes, " +
        "inv AS (SELECT doc_id, n, unnest(h) s FROM hashed), " +
        "ev AS (SELECT DISTINCT s FROM inv WHERE doc_id % 97 = 0), " +
        "tr AS (SELECT * FROM inv WHERE doc_id % 97 != 0), " +
        "ct AS (SELECT doc_id, count(*) c FROM tr JOIN ev USING (s) GROUP BY 1) " +
        "SELECT h.doc_id, h.n::BIGINT AS n_shingles, " +
        "coalesce(c, 0)::BIGINT AS n_contaminated, " +
        "coalesce(c, 0)::DOUBLE / h.n AS contamination_frac, " +
        "coalesce(c, 0) > 0 AS is_contaminated " +
        "FROM hashed h LEFT JOIN ct USING (doc_id) " +
        "WHERE h.doc_id % 97 != 0 AND h.n > 0"),

    // X1b — bloom-prefiltered decontamination: byte-identical output to
    // x1, different data movement — the 100 TB shape for an eval index too
    // large to broadcast as keys. The eval grams build a Bloom filter
    // (distributed treeAggregate; ~10 bits/key at 1% fpp, 50-100x smaller
    // than the key set), the corpus scan drops non-members at the scan
    // via the codegen'd native probe (no shuffle for the ~99% that cannot
    // match), and the exact join runs only on the surviving candidates —
    // removing bloom false positives, so the result provably equals x1's
    // exact semi-join and the SAME oracle gates both.
    "x1b_bloom_decontaminate" -> GQ(
      (s, d) => {
        val inv = shingleIndex(s, d)
        val evalSet = inv.where(col("doc_id") % 97 === 0)
          .select("s").distinct()
        val bloom = evalSet.stat.bloomFilter("s", math.max(evalSet.count(), 1L), 0.01)
        val train = inv.where(col("doc_id") % 97 =!= 0)
        val candidates = train.where(graft.functions.BloomMightContainF(col("s"), bloom))
        val hits = candidates.join(evalSet, "s")
          .groupBy("doc_id").agg(count(lit(1)).as("c"))
        train.select(col("doc_id"), col("n")).distinct()
          .join(hits, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n").cast("long").as("n_shingles"),
            coalesce(col("c"), lit(0L)).as("n_contaminated"),
            (coalesce(col("c"), lit(0L)).cast("double") / col("n"))
              .as("contamination_frac"),
            (coalesce(col("c"), lit(0L)) > 0).as("is_contaminated"))
      },
      s"WITH $dShingleCtes, " +
        "inv AS (SELECT doc_id, n, unnest(h) s FROM hashed), " +
        "ev AS (SELECT DISTINCT s FROM inv WHERE doc_id % 97 = 0), " +
        "tr AS (SELECT * FROM inv WHERE doc_id % 97 != 0), " +
        "ct AS (SELECT doc_id, count(*) c FROM tr JOIN ev USING (s) GROUP BY 1) " +
        "SELECT h.doc_id, h.n::BIGINT AS n_shingles, " +
        "coalesce(c, 0)::BIGINT AS n_contaminated, " +
        "coalesce(c, 0)::DOUBLE / h.n AS contamination_frac, " +
        "coalesce(c, 0) > 0 AS is_contaminated " +
        "FROM hashed h LEFT JOIN ct USING (doc_id) " +
        "WHERE h.doc_id % 97 != 0 AND h.n > 0"),

    // X3 — quality funnel: the Gopher-style keep/drop decision a corpus
    // actually ships through, composing the t2/t6 signals into ordered
    // rules with a reason code (first failing rule wins — the funnel shape
    // every production filter uses so drop rates are attributable per
    // rule). One pass over tokens + the t6 bigram aggregate; thresholds
    // are exact-integer or single-division comparisons, so the decision is
    // bit-reproducible in any engine.
    "x3_quality_funnel" -> GQ(
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        val t = TextOps.tokens(col("text"))
        val n = size(t).cast("long")
        val scored = docs.select(col("doc_id"), n.as("n_tokens"),
          (aggregate(t, lit(0L), (acc, x) => acc + length(x)).cast("double") / n)
            .as("mean_len"),
          (size(array_distinct(t)).cast("double") / n).as("ttr"))
        val toks = docs.select(col("doc_id"),
          posexplode(t).as(Seq("pos", "w")))
        val w = Window.partitionBy("doc_id").orderBy("pos")
        val bg = toks.withColumn("nxt", lead("w", 1).over(w))
          .where(col("nxt").isNotNull)
          .groupBy(col("doc_id"), concat_ws(" ", col("w"), col("nxt")).as("b"))
          .agg(count(lit(1)).as("c"))
          .groupBy("doc_id")
          .agg(sum(col("c")).as("nb"), max(col("c")).as("mx"))
        scored.join(bg, Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(col("n_tokens") < 50, "too_short")
              .when(col("n_tokens") > 100000, "too_long")
              .when(col("mean_len") < 2.0, "tokens_too_short")
              .when(col("mean_len") > 12.0, "tokens_too_long")
              .when(col("ttr") < 0.05, "low_diversity")
              .when(col("nb") > 0 && col("mx").cast("double") / col("nb") > 0.2,
                "repetitive")
              .otherwise("keep").as("verdict"))
          .withColumn("kept", col("verdict") === "keep")
      },
      "WITH t0 AS (SELECT doc_id, string_split_regex(text, '\\s+') t FROM documents), " +
        "scored AS (SELECT doc_id, len(t) n_tokens, " +
        "list_sum(list_transform(t, x -> length(x)))::DOUBLE / len(t) mean_len, " +
        "len(list_distinct(t))::DOUBLE / len(t) ttr FROM t0), " +
        "bgl AS (SELECT doc_id, unnest(list_transform(range(1, len(t)), " +
        "i -> t[i] || ' ' || t[i+1])) b FROM t0), " +
        "bc AS (SELECT doc_id, b, count(*) c FROM bgl GROUP BY 1, 2), " +
        "agg AS (SELECT doc_id, sum(c) nb, max(c) mx FROM bc GROUP BY 1) " +
        "SELECT s.doc_id, CASE WHEN n_tokens < 50 THEN 'too_short' " +
        "WHEN n_tokens > 100000 THEN 'too_long' " +
        "WHEN mean_len < 2.0 THEN 'tokens_too_short' " +
        "WHEN mean_len > 12.0 THEN 'tokens_too_long' " +
        "WHEN ttr < 0.05 THEN 'low_diversity' " +
        "WHEN nb > 0 AND mx::DOUBLE / nb > 0.2 THEN 'repetitive' " +
        "ELSE 'keep' END AS verdict, " +
        "CASE WHEN n_tokens < 50 THEN 'too_short' " +
        "WHEN n_tokens > 100000 THEN 'too_long' " +
        "WHEN mean_len < 2.0 THEN 'tokens_too_short' " +
        "WHEN mean_len > 12.0 THEN 'tokens_too_long' " +
        "WHEN ttr < 0.05 THEN 'low_diversity' " +
        "WHEN nb > 0 AND mx::DOUBLE / nb > 0.2 THEN 'repetitive' " +
        "ELSE 'keep' END = 'keep' AS kept " +
        "FROM scored s LEFT JOIN agg ON s.doc_id = agg.doc_id"),

    // T9 — deterministic train/val/test split: the first byte of
    // sha2("split42|" || doc_id) buckets each document into 256 cells;
    // cells [0,205) -> train (~80%), [205,230) -> val (~10%), rest -> test.
    // Pure per-row projection — no RNG state, no shuffle, stable under
    // retries, reproducible by any engine, and membership is decidable per
    // row without seeing the rest of the corpus (the property that matters
    // when the corpus is 100 TB across 10^6 files).
    "t9_hash_split" -> GQ(
      (s, d) => {
        val bucket = conv(substring(
          sha2(concat_ws("|", lit("split42"), col("doc_id")), 256), 1, 2), 16, 10)
          .cast("long")
        Tables.load(s, d, "documents")
          .select(col("doc_id"), bucket.as("bucket"),
            when(bucket < 205, "train").when(bucket < 230, "val")
              .otherwise("test").as("split"))
      },
      "SELECT doc_id, ('0x' || substr(sha256('split42|' || doc_id::VARCHAR), 1, 2))::BIGINT AS bucket, " +
        "CASE WHEN ('0x' || substr(sha256('split42|' || doc_id::VARCHAR), 1, 2))::BIGINT < 205 THEN 'train' " +
        "WHEN ('0x' || substr(sha256('split42|' || doc_id::VARCHAR), 1, 2))::BIGINT < 230 THEN 'val' " +
        "ELSE 'test' END AS split FROM documents"),

    // T13 — context-window chunking: split every document into fixed-size
    // token windows (16 tokens, stride 8 — overlapping halves, the
    // training-prep step that turns variable-length documents into
    // max-seq-length examples). Purely per-row: window starts come from
    // one `sequence` explode and each chunk is a top-level codegen'd
    // `slice` + `concat_ws` — no HOF lambda in the hot path, no shuffle at
    // all (the chunker composes with any downstream partitioning).
    "t13_chunk_windows" -> GQ(
      (s, d) => {
        val (w, stride) = (16, 8)
        Tables.load(s, d, "documents")
          .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
          .select(col("doc_id"), col("t"),
            posexplode(sequence(lit(1), size(col("t")), lit(stride))))
          .toDF("doc_id", "t", "chunk_idx", "st")
          .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
            least(lit(w), size(col("t")) - col("st") + 1).cast("long")
              .as("chunk_tokens"),
            concat_ws(" ", slice(col("t"), col("st"), lit(w))).as("chunk"))
      },
      "WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') toks " +
        "FROM documents) " +
        "SELECT doc_id, (st - 1) // 8 AS chunk_idx, " +
        "least(16, len(toks) - st + 1)::BIGINT AS chunk_tokens, " +
        "array_to_string(toks[st:st+15], ' ') AS chunk " +
        "FROM t, unnest(range(1, len(toks) + 1, 8)) u(st)"),

    // T14 — model-based quality scoring, the fastText-classifier shape the
    // CCNet/GPT-style curation pipelines run after the rule-based funnel
    // (x3): hash every token into a fixed feature space, join the bucket
    // against the model's weight table, and score the document by the mean
    // feature weight (keep = positive margin; the sigmoid is monotone, so
    // thresholding the margin IS thresholding the probability). The weight
    // table here is a deterministic stand-in for trained coefficients (no
    // model artifacts ship in this sandbox) — the SCALE-RELEVANT parts are
    // real: the model rides as a BROADCAST table (a learned vocabulary of
    // any size would too — weights are data, not code), the per-token
    // hash+join is map-side whole-stage codegen, the only shuffle is the
    // per-document aggregate, and the score sum is exact integer
    // milli-weights so the result is bit-stable under any partitioning
    // (one IEEE division at the end, the same discipline as t6/t10).
    "t14_quality_classifier" -> GQ(
      (s, d) => {
        val nb = 1024L
        val wt = broadcast(s.range(nb).select(col("id").as("bucket"),
          ((col("id") * 2654435761L + 12345L) % 2001L - 1000L).as("wm")))
        val toks = Tables.load(s, d, "documents")
          .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("w"))
          .select(col("doc_id"),
            (conv(substring(sha2(concat_ws("|", lit("qc"), col("w")), 256),
              1, 4), 16, 10).cast("long") % nb).as("bucket"))
        toks.join(wt, "bucket")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"), sum(col("wm")).as("sm"))
          .select(col("doc_id"), col("n_tokens"),
            (col("sm").cast("double") / (col("n_tokens") * 1000.0)).as("score"),
            (col("sm") > 0).as("keep"))
      },
      "WITH wt AS (SELECT u.b AS bucket, ((u.b * 2654435761 + 12345) % 2001) - 1000 AS wm " +
        "FROM unnest(range(0, 1024)) u(b)), " +
        "toks AS (SELECT doc_id, ('0x' || substr(sha256('qc|' || w), 1, 4))::BIGINT % 1024 AS bucket " +
        "FROM (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) w FROM documents)), " +
        "sc AS (SELECT t.doc_id, count(*)::BIGINT AS n_tokens, sum(wt.wm)::BIGINT AS sm " +
        "FROM toks t JOIN wt ON t.bucket = wt.bucket GROUP BY 1) " +
        "SELECT doc_id, n_tokens, sm::DOUBLE / (n_tokens * 1000.0) AS score, " +
        "sm > 0 AS keep FROM sc"),

    // T12 — token-budget shard packing: walk the corpus in doc_id order and
    // assign each document to output shard floor(tokens_before / budget) —
    // how a training pipeline cuts a corpus into fixed-token-count output
    // files with a deterministic order. The oracle is DuckDB's global
    // running sum; the Spark side deliberately is NOT (an unpartitioned
    // window = one task holding the corpus): Relational.packByBudget runs
    // the two-level distributed prefix sum — range-partition, per-bucket
    // totals (a bucket-count-sized window), bucket offset + within-bucket
    // keyed window — and must produce the identical assignment.
    "t12_token_shards" -> GQ(
      (s, d) => {
        val toks = Tables.load(s, d, "documents")
          .select(col("doc_id"),
            size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
        Relational.packByBudget(toks, "doc_id", col("n_tokens"), budget = 256L)
          .select(col("doc_id"), col("n_tokens"), col("shard_off"), col("shard_id"))
      },
      "WITH t AS (SELECT doc_id, len(string_split_regex(text, '\\s+'))::BIGINT n_tokens " +
        "FROM documents) " +
        "SELECT doc_id, n_tokens, coalesce(sum(n_tokens) OVER " +
        "(ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS shard_off, " +
        "(coalesce(sum(n_tokens) OVER " +
        "(ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 256)::BIGINT AS shard_id " +
        "FROM t"),

    // D10 — C4-style corpus-wide segment dedup: cut every document into
    // fixed 10-token segments, keep only the FIRST occurrence of each
    // distinct segment across the whole corpus (min (doc_id, seg_idx)),
    // and rebuild each document from its surviving segments — the dedup
    // mode that REMOVES boilerplate in place instead of dropping documents
    // (C4 did this at three-sentence granularity; d9 marks repeated
    // regions, d10 actually rewrites the text). Two shuffles, both keyed
    // by high-cardinality columns: first-occurrence election partitions by
    // the 60-bit segment hash (narrow shuffle rows — the hash, not the
    // text, is the key), the rebuild groups by doc_id. No join at all:
    // the election is a row_number window inside each hash bucket, whose
    // size is the duplication count of one segment — bounded in any real
    // corpus, and a skew-salted election would drop in via saltedJoin's
    // pattern if one segment dominated.
    "d10_segment_dedup" -> GQ(
      (s, d) => {
        // Build the per-doc segment ARRAY first and explode that: an
        // explode of `sequence` that carries the token array alongside
        // materializes a copy of the whole array per segment row
        // (O(len^2/10) per doc — measured 21 s vs 2 s at the 10x probe).
        val segs = Tables.load(s, d, "documents")
          .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
          .select(col("doc_id"),
            posexplode(transform(sequence(lit(1), size(col("t")), lit(10)),
              st => concat_ws(" ", slice(col("t"), st, lit(10))))))
          .toDF("doc_id", "seg_idx", "seg")
          .select(col("doc_id"), col("seg_idx").cast("long").as("seg_idx"),
            col("seg"))
        val w = Window.partitionBy(TextOps.h60(col("seg")))
          .orderBy(col("doc_id"), col("seg_idx"))
        segs.withColumn("kept", row_number().over(w) === 1)
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_segs"),
            sum(col("kept").cast("long")).as("n_kept"),
            concat_ws(" ", transform(
              array_sort(collect_list(
                when(col("kept"), struct(col("seg_idx"), col("seg"))))),
              x => x.getField("seg"))).as("clean_text"))
      },
      "WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') toks " +
        "FROM documents), " +
        "segs AS (SELECT doc_id, ((st - 1) // 10)::BIGINT seg_idx, " +
        "array_to_string(toks[st:st+9], ' ') seg " +
        "FROM t, unnest(range(1, len(toks) + 1, 10)) u(st)), " +
        "m AS (SELECT doc_id, seg_idx, seg, row_number() OVER " +
        s"(PARTITION BY ${dH60("seg")} ORDER BY doc_id, seg_idx) = 1 AS kept " +
        "FROM segs) " +
        "SELECT doc_id, count(*)::BIGINT n_segs, " +
        "coalesce(sum(CASE WHEN kept THEN 1 END), 0)::BIGINT n_kept, " +
        "coalesce(string_agg(CASE WHEN kept THEN seg END, ' ' ORDER BY seg_idx), '') " +
        "AS clean_text FROM m GROUP BY doc_id"),

    // T15 — temperature-scaled corpus mixture resampling (the XLM-R /
    // multilingual-LM data-mixing step): per-language token mass c_i sets
    // a sampling weight w_i ∝ c_i^0.5 — upsampling low-resource languages
    // relative to their natural share — and each language receives a doc
    // quota n_i = N_target · w_i / Σw. Selection is per-row Bernoulli
    // against an integer hash threshold (2^20 · n_i / c_docs_i), NOT a
    // per-language top-n sort: a sort-based pick needs one reducer per
    // language holding that language's whole corpus, while the threshold
    // is decidable from the row alone — the 5-row threshold table
    // broadcasts and selection is a map-only scan. All arithmetic that
    // crosses rows is exact integer (the one sqrt is per-lang scalar IEEE,
    // floored to micro-units before the cross-language normalization), so
    // the picked set is bit-stable under any partitioning.
    "t15_mixture_resample" -> GQ(
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        val lc = docs
          .select(col("doc_id"), col("lang"),
            size(TextOps.tokens(col("text"))).cast("long").as("nt"))
          .groupBy("lang")
          .agg(count(lit(1)).as("c_docs"), sum(col("nt")).as("c_tok"))
        // #languages is bounded (5 here, a few hundred ever), so the
        // unpartitioned window over the per-lang table is O(#langs).
        val th = lc
          .withColumn("wi", floor(sqrt(col("c_tok").cast("double")) * 1e6)
            .cast("long"))
          .withColumn("ws", expr("sum(wi) OVER ()"))
          .withColumn("ntarget", expr("(sum(c_docs) OVER ()) div 2"))
          .withColumn("quota", expr("(ntarget * wi) div ws"))
          .withColumn("thr", expr("(1048576 * quota) div c_docs"))
          .select("lang", "quota", "thr")
        docs.join(broadcast(th), "lang")
          .where(pmod(TextOps.h60(concat_ws("|", lit("mix42"), col("doc_id"))),
            lit(1048576L)) < col("thr"))
          .select(col("doc_id"), col("lang"), col("quota"))
      },
      "WITH lc AS (SELECT lang, count(*)::BIGINT c_docs, " +
        "sum(len(string_split_regex(text, '\\s+')))::BIGINT c_tok " +
        "FROM documents GROUP BY 1), " +
        "w AS (SELECT lang, c_docs, floor(sqrt(c_tok) * 1e6)::BIGINT wi FROM lc), " +
        // ::BIGINT: DuckDB sum(BIGINT) widens to HUGEINT, which the
        // driver's type-sensitive hasher rejects against Spark's int64.
        "th AS (SELECT lang, (((sum(c_docs) OVER () // 2) * wi) " +
        "// (sum(wi) OVER ()))::BIGINT AS quota, c_docs FROM w), " +
        "t2 AS (SELECT lang, quota, (1048576 * quota) // c_docs AS thr FROM th) " +
        "SELECT d.doc_id, d.lang, t2.quota FROM documents d JOIN t2 USING (lang) " +
        s"WHERE ${dH60("'mix42|' || d.doc_id::VARCHAR")} % 1048576 < t2.thr"),

    // T16 — distributed BPE vocabulary induction (the SentencePiece /
    // subword-tokenizer training step): learn the first BpeRounds merge
    // rules over the corpus word-frequency dictionary. Output = one rule
    // per round (the argmax adjacent-symbol pair with its weighted
    // frequency). See bpeStages for the scale story; the oracle replays
    // the identical greedy merges through window-parity SQL.
    "t16_bpe_merges" -> GQ(
      (s, d) => {
        import s.implicits._
        bpeShared(s, d)._1.toDF("merge_round", "p1", "p2", "freq")
      },
      dBpeCtes + " " + (1 to BpeRounds).map(r =>
        s"SELECT $r::BIGINT AS merge_round, p1, p2, freq FROM b$r")
        .mkString(" UNION ALL ")),

    // T16b — the vocabulary the learned merges induce: corpus frequency of
    // every symbol after applying all BpeRounds merges. Verifies the
    // REBUILT symbol sequences (not just the argmax rules) cross-engine,
    // i.e. that the fold's greedy application matches the oracle's.
    "t16b_bpe_vocab" -> GQ(
      (s, d) => {
        val fin = bpeShared(s, d)._2
        fin.select(col("wc"), explode(col("syms")).as("sym"))
          .groupBy("sym").agg(sum(col("wc")).as("cnt"))
      },
      dBpeCtes +
        s" SELECT sym, sum(wc)::BIGINT AS cnt FROM s$BpeRounds GROUP BY 1"),

    // T16c — encode the corpus with the trained tokenizer: per-document
    // subword counts under the learned merges (train → encode end-to-end;
    // these counts are what a t12-style shard packer would budget by).
    // The segmentation lives in the word dictionary, so encoding is one
    // corpus⋈dict join KEYED BY WORD — at 100 TB the dict is far too big
    // to broadcast, and the word-keyed shuffle (with map-side combine on
    // the heavy-hitter words) is the production shape; no per-document
    // re-segmentation happens.
    "t16c_bpe_encode" -> GQ(
      (s, d) => {
        val dict = bpeShared(s, d)._2
          .select(col("w"), size(col("syms")).cast("long").as("n_sub"))
        Tables.load(s, d, "documents")
          .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("w"))
          .where(length(col("w")) > 0)
          .join(dict, "w")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_subwords"))
      },
      dBpeCtes +
        s", nsub AS (SELECT w, count(*)::BIGINT n_sub FROM s$BpeRounds GROUP BY 1), " +
        "tk AS (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) w " +
        "FROM documents) " +
        "SELECT doc_id, count(*)::BIGINT AS n_words, sum(n_sub)::BIGINT AS n_subwords " +
        "FROM tk JOIN nsub USING (w) WHERE len(w) > 0 GROUP BY 1"),

    // T17 — per-source quality prior (domain blocklist derivation): for
    // every source, the exact-dup rate and quality-screen pass rate, and
    // an integer-exact keep/flag verdict (flag when >half the source's
    // docs are dups or <half pass the screen) — the corpus statistic a
    // pipeline turns into a source blocklist before the next crawl. The
    // dup flag is a count window keyed by the content hash
    // (high-cardinality); the per-source rollup partial-aggregates
    // map-side, so one giant source can't skew the shuffle.
    "t17_source_prior" -> GQ(
      (s, d) => {
        val t = TextOps.tokens(col("text"))
        val per = Tables.load(s, d, "documents")
          .select(col("doc_id"), col("source"),
            sha2(col("text"), 256).as("h"),
            size(t).cast("long").as("nt"),
            (size(array_distinct(t)).cast("double") / size(t)).as("ttr"))
        val flagged = per
          .withColumn("is_dup",
            count(lit(1)).over(Window.partitionBy(col("h"))) > 1)
          .withColumn("ok",
            col("nt").between(50L, 100000L) && col("ttr") >= 0.05)
        flagged.groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("is_dup").cast("long")).as("n_dup"),
            sum(col("ok").cast("long")).as("n_ok"))
          .select(col("source"), col("n_docs"), col("n_dup"), col("n_ok"),
            (col("n_dup").cast("double") / col("n_docs")).as("dup_rate"),
            (col("n_ok").cast("double") / col("n_docs")).as("keep_rate"),
            (col("n_dup") * 2 <= col("n_docs") &&
              col("n_ok") * 2 >= col("n_docs")).as("keep_source"))
      },
      "WITH per AS (SELECT doc_id, source, sha256(text) h, " +
        "len(string_split_regex(text, '\\s+'))::BIGINT nt, " +
        "len(list_distinct(string_split_regex(text, '\\s+')))::DOUBLE / " +
        "len(string_split_regex(text, '\\s+')) AS ttr FROM documents), " +
        "f AS (SELECT *, count(*) OVER (PARTITION BY h) > 1 AS is_dup, " +
        "(nt BETWEEN 50 AND 100000 AND ttr >= 0.05) AS ok FROM per), " +
        "agg AS (SELECT source, count(*)::BIGINT n_docs, " +
        "coalesce(sum(CASE WHEN is_dup THEN 1 END), 0)::BIGINT n_dup, " +
        "coalesce(sum(CASE WHEN ok THEN 1 END), 0)::BIGINT n_ok FROM f GROUP BY 1) " +
        "SELECT source, n_docs, n_dup, n_ok, " +
        "n_dup::DOUBLE / n_docs AS dup_rate, n_ok::DOUBLE / n_docs AS keep_rate, " +
        "(n_dup * 2 <= n_docs AND n_ok * 2 >= n_docs) AS keep_source FROM agg"),

    // TP1 — the end-to-end training-data manifest: raw corpus → exact
    // dedup (keep min doc_id per content hash) → quality screen →
    // temperature-scaled language mixing over the SURVIVORS (the stats the
    // thresholds derive from are post-filter, as a real pipeline's are) →
    // token-budget shard packing. One declarative job, one lineage: the
    // composition a user actually ships, demonstrating the pieces compose
    // without materialization barriers. Every stage keeps its scale shape:
    // content-hash window (shuffle keyed by sha256), per-row screen,
    // O(#langs) broadcast thresholds, two-level prefix-sum packing.
    "tp1_training_manifest" -> GQ(
      (s, d) => {
        // Exact dedup via the min_by fast path (Relational.top1PerGroup):
        // keep the min-doc_id row per content hash with a map-side
        // partial-aggregating groupBy — the old row_number window shuffled
        // and sorted every FULL text row per hash group to discard all but
        // one; min_by collapses duplicate groups before the exchange.
        // Same row survives (doc_id is unique, so rn=1 ⟺ min doc_id).
        // localCheckpoint: `kept` feeds BOTH mixtureSelect's main stream
        // and the broadcast threshold branch, and the two consumers'
        // subtrees do not canonicalize equal after column pruning (the
        // r21 packByBudget finding), so without a cut the full
        // dedup + tokenize + TTR screen runs TWICE per query. The
        // checkpoint materializes its (doc_id, lang, n_tokens) output —
        // three narrow columns, corpus-row-bounded — once, inside the
        // timed run (within-run materialization, not cross-run caching).
        // A localCheckpoint is NOT fault-tolerant: its blocks live only in
        // executor storage with the lineage cut, so losing an executor
        // loses them and fails the query instead of recomputing.
        val kept = TextOps.qualityScreen(Relational.top1PerGroup(
          Tables.load(s, d, "documents").select(
            col("doc_id"), col("lang"), col("text")),
          Seq(sha2(col("text"), 256)), col("doc_id"))
          .select(col("doc_id"), col("lang"), col("text")))
          .localCheckpoint()
        val picked = TextOps.mixtureSelect(kept, TextOps.mixtureThresholds(kept))
        Relational.packByBudget(picked, "doc_id", col("n_tokens"), budget = 4096L)
          .select(col("doc_id"), col("lang"), col("n_tokens"),
            col("shard_off"), col("shard_id"))
      },
      "WITH dd AS (SELECT doc_id, lang, text FROM (SELECT *, row_number() " +
        "OVER (PARTITION BY sha256(text) ORDER BY doc_id) rn FROM documents) q " +
        "WHERE rn = 1), " +
        "tk AS (SELECT doc_id, lang, string_split_regex(text, '\\s+') t FROM dd), " +
        "sc AS (SELECT doc_id, lang, len(t)::BIGINT n_tokens, " +
        "len(list_distinct(t))::DOUBLE / len(t) AS ttr FROM tk), " +
        "kept AS (SELECT doc_id, lang, n_tokens FROM sc " +
        "WHERE n_tokens BETWEEN 50 AND 100000 AND ttr >= 0.05), " +
        "lc AS (SELECT lang, count(*)::BIGINT c_docs, sum(n_tokens)::BIGINT c_tok " +
        "FROM kept GROUP BY 1), " +
        "w AS (SELECT lang, c_docs, floor(sqrt(c_tok) * 1e6)::BIGINT wi FROM lc), " +
        "th AS (SELECT lang, ((((sum(c_docs) OVER ()) // 2) * wi) " +
        "// (sum(wi) OVER ()))::BIGINT AS quota, c_docs FROM w), " +
        "t2 AS (SELECT lang, (1048576 * quota) // c_docs AS thr FROM th), " +
        "picked AS (SELECT k.doc_id, k.lang, k.n_tokens FROM kept k " +
        "JOIN t2 USING (lang) " +
        s"WHERE ${dH60("'mix42|' || k.doc_id::VARCHAR")} % 1048576 < t2.thr) " +
        "SELECT doc_id, lang, n_tokens, " +
        "coalesce(sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED " +
        "PRECEDING AND 1 PRECEDING), 0)::BIGINT AS shard_off, " +
        "(coalesce(sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED " +
        "PRECEDING AND 1 PRECEDING), 0) // 4096)::BIGINT AS shard_id " +
        "FROM picked"),

    // T19 — out-of-vocabulary rate against a corpus-induced vocabulary
    // (top-K words by frequency, ties broken by word) — the OOV screen a
    // tokenizer-bound pipeline runs before training (docs that are mostly
    // OOV are noise for a fixed vocab). Scale shape: the vocab induction
    // is one word-count shuffle (map-side combined) + a global top-K
    // (TakeOrdered — never a full sort); the per-doc pass left-joins the
    // BROADCAST vocab on the token stream and re-aggregates by doc_id. K
    // is 20 because the synthetic corpus draws from a few dozen distinct
    // words — production K (32k/50k) changes the broadcast size, not the
    // plan.
    "t19_oov_rate" -> GQ(
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        val toks = docs.select(col("doc_id"),
          explode(TextOps.tokens(col("text"))).as("w"))
        val vocab = toks.groupBy("w").agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("w")).limit(20)
          .select(col("w").as("vw"))
        toks.join(broadcast(vocab), col("w") === col("vw"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("vw").isNull, 1L).otherwise(0L)).as("n_oov"))
          .withColumn("oov_rate", col("n_oov").cast("double") / col("n_tokens"))
      },
      "WITH toks AS (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w " +
        "FROM documents), " +
        "vocab AS (SELECT w vw FROM (SELECT w, count(*) c FROM toks GROUP BY w " +
        "QUALIFY row_number() OVER (ORDER BY c DESC, w) <= 20)) " +
        "SELECT doc_id, count(*) AS n_tokens, " +
        "sum(CASE WHEN vw IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov, " +
        "sum(CASE WHEN vw IS NULL THEN 1 ELSE 0 END)::DOUBLE / count(*) AS oov_rate " +
        "FROM toks LEFT JOIN vocab ON w = vw GROUP BY doc_id"),

    // T20 — corpus-wide rank + decile by quality score WITHOUT a global
    // single-partition window: bucket by floor(score·32) → per-bucket
    // counts → prefix-sum offsets over the ≤33-row bucket table (the only
    // full-width window, on metadata) → within-bucket row_number + offset.
    // The same two-level prefix-sum shape as t12's shard packing, applied
    // to order statistics: the data-sized shuffles are keyed by bucket
    // (bounded partitions, ~n/32 each), never by a single global sort key —
    // the curriculum/decile assignment a data-mixing pipeline computes at
    // 100 TB. Ties rank deterministically by (score desc, doc_id); the
    // oracle is the naive global window, which must agree exactly.
    "t20_global_rank" -> GQ(
      (s, d) => {
        val t = TextOps.tokens(col("text"))
        val scored = Tables.load(s, d, "documents").select(col("doc_id"),
          (size(array_distinct(t)).cast("double") / size(t)).as("score"))
        val b = scored.withColumn("bkt", floor(col("score") * 32).cast("long"))
        // Level 2 (the cross-bucket prefix) is DRIVER math behind the
        // shared cardinality guard: the bucket table is ≤34 rows BY
        // CONSTRUCTION (score ∈ [0,1] ⇒ floor(score·32) ∈ [0,32], plus a
        // possible null for empty docs), and collectBucketCounts makes
        // that contract enforced rather than assumed — if the bucketing
        // expression ever drifts corpus-sized the collect refuses loudly
        // instead of a single-partition window sorting the corpus.
        val counts = Relational.collectBucketCounts(
          b.groupBy("bkt").agg(count(lit(1)).as("bc")), "t20_global_rank")
        // prefix in bkt DESC order (high score = rank 1), matching the
        // old Window.orderBy(desc); the null bucket sorts last and is
        // dropped from the join table — a null key never equi-joins,
        // exactly as before (it still counts toward n_total).
        var acc = 0L
        val offRows = counts.sortBy(_._1.map(-_).getOrElse(Long.MaxValue))
          .map { case (bkt, c) => val o = acc; acc += c; (bkt, o) }
        val nTotal = acc
        val offs = {
          import s.implicits._
          offRows.collect { case (Some(bkt), o) => (bkt, o) }.toDF("bkt", "off")
        }
        val wb = Window.partitionBy(col("bkt"))
          .orderBy(col("score").desc, col("doc_id"))
        b.join(broadcast(offs), "bkt")
          .withColumn("rank", col("off") + row_number().over(wb))
          .select(col("doc_id"), round(col("score"), 6).as("score"),
            col("rank"),
            Relational.floorDivExact((col("rank") - 1) * 10,
              math.max(nTotal, 1L)).as("decile"))
      },
      "WITH t0 AS (SELECT doc_id, string_split_regex(text, '\\s+') t FROM documents), " +
        "sc AS (SELECT doc_id, len(list_distinct(t))::DOUBLE / len(t) AS score FROM t0), " +
        "r AS (SELECT doc_id, score, row_number() OVER (ORDER BY score DESC, doc_id) rank, " +
        "count(*) OVER () n FROM sc) " +
        "SELECT doc_id, round(score, 6) AS score, rank::BIGINT AS rank, " +
        "(((rank - 1) * 10) // n)::BIGINT AS decile FROM r"),

    // T21 — per-source quota cap (domain balancing): keep at most K
    // documents per source, best-first — the mixture-control pass that
    // stops one crawl domain from dominating a training corpus, run
    // upstream of t15's temperature resampling. Deterministic priority
    // (n_chars desc, doc_id): an incremental re-run keeps the SAME
    // survivors, so downstream shards are stable. Shape at 100 TB: one
    // shuffle on source, per-group sort bounded by that source's rows;
    // src_total rides the same window partition, so the quota report
    // (how much was cut from each domain) costs nothing extra.
    "t21_source_quota" -> GQ(
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"))
          .withColumn("src_total",
            count(lit(1)).over(Window.partitionBy(col("source"))))
        Relational.topKPerGroup(docs, Seq(col("source")),
          Seq(col("n_chars").desc, col("doc_id")), 15)
      },
      "SELECT doc_id, source, n_chars, " +
        "count(*) OVER (PARTITION BY source) AS src_total FROM documents " +
        "QUALIFY row_number() OVER (PARTITION BY source " +
        "ORDER BY n_chars DESC, doc_id) <= 15"),

    // T23 — EXACT stratified split (TextOps.stratifiedSplit): per
    // language, exactly ceil(n/10) docs to 'val' — the per-stratum-exact
    // counterpart of t9's hash split (proportional only in expectation; a
    // small stratum can land 0 val docs by chance, and eval sets need
    // every language represented). ntile(10) == 1 over the salted
    // deterministic order IS ceil(n/10) (larger-buckets-first in both
    // engines); one window, one lang shuffle, per-group sort bounded by
    // the stratum. MixtureSpec pins the tiny-stratum exactness the gate
    // corpus can't reach.
    "t23_stratified_split" -> GQ(
      (s, d) => TextOps.stratifiedSplit(
        Tables.load(s, d, "documents").select(col("doc_id"), col("lang")),
        "lang", "doc_id", "strat42"),
      "SELECT doc_id, lang, CASE WHEN ntile(10) OVER (PARTITION BY lang " +
        "ORDER BY sha256('strat42|' || doc_id::VARCHAR), doc_id) = 1 " +
        "THEN 'val' ELSE 'train' END AS split FROM documents"),

    // T24 — per-source TOKEN-budget cap ("sample ≤ B chars per domain",
    // TextOps.weightBudgetCap), the volume-control twin of t21's row
    // quota: docs admitted in deterministic salted-hash order WHILE
    // budget remains before each doc (`cum − w < B`, so even a domain
    // whose smallest doc exceeds B contributes its first doc instead of
    // silently vanishing from the mixture); overshoot ≤ one doc. One
    // shuffle on source.
    "t24_token_budget" -> GQ(
      (s, d) => TextOps.weightBudgetCap(
          Tables.load(s, d, "documents")
            .select(col("doc_id"), col("source"), col("n_chars")),
          "source", "doc_id", "n_chars", 5000L, "budget42")
        .withColumnRenamed("cum_w", "cum_chars"),
      "SELECT doc_id, source, n_chars, cum_chars FROM (" +
        "SELECT doc_id, source, n_chars, (sum(n_chars) OVER (PARTITION BY source " +
        "ORDER BY sha256('budget42|' || doc_id::VARCHAR), doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cum_chars " +
        "FROM documents) WHERE cum_chars - n_chars < 5000"),

    // T22 — bounded edit-distance self-join at corpus scale
    // (TextOps.editDistanceJoin, PassJoin-style segment blocking): every
    // document pair whose 30-char leading text is within Levenshtein
    // distance 2 — the entity-resolution / fuzzy-record-linkage join. t5
    // is this operator's brute-force shape capped at 30 rows; here the
    // ORACLE is that brute force over the whole table (DuckDB evaluates
    // the plain levenshtein self-join in well under a second at gate
    // scale) while the Spark plan is the segment equi-join + levenshtein
    // verify that survives a corpus — equality IS the claim that the
    // pigeonhole blocking loses no pair.
    "t22_fuzzy_edit_join" -> GQ(
      (s, d) => TextOps.editDistanceJoin(
          Tables.load(s, d, "documents")
            .select(col("doc_id"), substring(col("text"), 1, 30).as("p")),
          "doc_id", "p", 2)
        .select(col("id1").as("doc_id_1"), col("id2").as("doc_id_2"),
          col("dist").as("edit_dist")),
      "WITH t AS (SELECT doc_id, substr(text, 1, 30) p FROM documents) " +
        "SELECT x.doc_id AS doc_id_1, y.doc_id AS doc_id_2, " +
        "levenshtein(x.p, y.p) AS edit_dist FROM t x JOIN t y " +
        "ON x.doc_id < y.doc_id WHERE levenshtein(x.p, y.p) <= 2"))
}
