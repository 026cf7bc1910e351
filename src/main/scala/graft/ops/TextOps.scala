package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Text-analysis / deduplication primitives for large-scale training-data
  * pipelines: tokenization, shingling, MinHash+LSH, SimHash, winnowing
  * fingerprints. Everything is pure Column composition (whole-stage
  * codegen'd, no UDFs) so the operators distribute and scale: per-document
  * work is embarrassingly parallel; the only shuffles are the explicit
  * groupBy/join steps in the pair-generation queries.
  *
  * Hashing is anchored on sha2 so every derived value is reproducible in
  * any engine (the DuckDB correctness oracle recomputes it bit-for-bit).
  */
object TextOps {

  /** Modulus for MinHash permutations: 2^31 - 1 (Mersenne prime). Products
    * `a * (h % P)` stay under 2^62, so all arithmetic fits signed 64-bit in
    * both Spark and the oracle — no overflow, no bigint promotion.
    */
  val HashPrime: Long = 2147483647L

  /** MinHash permutation coefficients — LCG-style, derived from the seed
    * index so both engines can regenerate them from `i` alone.
    */
  def permA(i: Column): Column = pmod(lit(1103515245L) * (i + 1) + 12345L, lit(HashPrime))
  def permB(i: Column): Column = pmod(lit(134775813L) * (i + 1) + 1L, lit(HashPrime))

  /** 60-bit positive hash: first 15 hex chars of sha2-256, parsed base-16.
    * (15 nibbles = 60 bits, always non-negative in a signed 64-bit long.)
    */
  def h60(c: Column): Column =
    conv(substring(sha2(c.cast("string"), 256), 1, 15), 16, 10).cast(LongType)

  /** Whitespace tokenizer. */
  def tokens(text: Column): Column = split(text, "\\s+")

  /** Word n-gram shingles joined with single spaces; empty array when the
    * document has fewer than `n` tokens (guards `sequence`'s descending
    * default step).
    */
  def wordShingles(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(toks) - n + 1),
        i => concat_ws(" ", slice(toks, i, lit(n)))))

  /** Character n-gram shingles of a string. */
  def charShingles(text: Column, n: Int): Column =
    when(length(text) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), length(text) - n + 1),
        i => text.substr(i, lit(n))))

  /** Base MinHash values: `h60(shingle) % P` per shingle. Hash once, then
    * apply the k cheap integer permutations — k sha2 passes per shingle
    * would dominate the scan cost at 100 TB.
    */
  def shingleHashes(shingles: Column): Column =
    transform(shingles, s => pmod(h60(s), lit(HashPrime)))

  /** MinHash signature of length `k` over pre-hashed shingles: element `i`
    * is `min((a_i*h + b_i) % P)`. Null entries when the shingle set is
    * empty.
    */
  def minhashSignature(hashes: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)), i => {
      val (a, b) = (permA(i), permB(i))
      array_min(transform(hashes, h => pmod(a * h + b, lit(HashPrime))))
    })

  /** LSH band digests: the signature split into `bands` bands of `r` rows,
    * each band digested to one sha2 string. Two documents land in the same
    * LSH bucket iff some band digest matches.
    */
  def bandDigests(sig: Column, bands: Int, r: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), j =>
      sha2(concat_ws("-", transform(slice(sig, j * r + 1, lit(r)), x => x.cast("string"))), 256))

  /** 60-bit SimHash over a token array (frequency-weighted: repeated tokens
    * contribute repeatedly). No explode, no shuffle: each token contributes
    * ±1 per bit position; positive sums set the bit. Uses the native
    * codegen'd expression (graft.functions.SimHash60F) — integer
    * arithmetic, bit-identical to the fold form below.
    */
  def simhash60(toks: Column): Column =
    graft.functions.SimHash60F.simhash60(transform(toks, t => h60(t)))

  /** Composable fold form of simhash60 (interpreted HOFs; kept for the
    * equivalence spec and engines without the native function).
    */
  def simhash60Fold(toks: Column): Column = {
    val bitSigns = (h: Column) => array((0 until 60).map { b =>
      when(shiftright(h, b).bitwiseAND(lit(1L)) === 1L, lit(1L)).otherwise(lit(-1L))
    }: _*)
    val sums = aggregate(
      transform(toks, t => h60(t)),
      array_repeat(lit(0L), 60),
      (acc, h) => zip_with(acc, bitSigns(h), (a, s) => a + s))
    val powers = array((0 until 60).map(b => lit(1L << b)): _*)
    aggregate(zip_with(sums, powers, (s, p) => when(s > 0, p).otherwise(lit(0L))),
      lit(0L), (a, x) => a + x)
  }

  /** Exploded word-3-shingle hash rows: one row per (id, distinct shingle)
    * with `n` = the document's distinct-shingle count and `s` = the
    * MinHash base value `h60(shingle) % P`.
    *
    * This is the codegen-friendly form of
    * `explode(shingleHashes(array_distinct(wordShingles(tokens))))`: the
    * array/HOF version evaluates every lambda interpreted (~9x slower at
    * sf0.1), while here shingle strings come from a window `lead` over
    * exploded tokens and the sha2 hash is a top-level whole-stage-codegen
    * expression. Distinctness is taken on the 60-bit hash (collision odds
    * ~2^-60 per doc) so the shuffle moves 8-byte longs, not strings.
    *
    * `s` keeps duplicates when two distinct shingles collide mod P —
    * exactly like the array form (and the oracle), which hashes the
    * distinct *strings* and keeps the resulting value list.
    */
  def shingleRows(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val wd = Window.partitionBy(idCol).orderBy("pos")
    df.select(col(idCol), posexplode(tokens(col(textCol))))
      .toDF(idCol, "pos", "w")
      .select(col(idCol),
        concat_ws(" ", col("w"), lead("w", 1).over(wd), lead("w", 2).over(wd)).as("sh"),
        lead("w", 2).over(wd).isNotNull.as("full"))
      .where(col("full"))
      .select(col(idCol), h60(col("sh")).as("h"))
      .distinct()
      .withColumn("n", count(lit(1)).over(Window.partitionBy(idCol)).cast("int"))
      .select(col(idCol), col("n"), pmod(col("h"), lit(HashPrime)).as("s"))
  }

  /** MinHash signature columns over `shingleRows` output: k min-aggregates
    * (one shuffle by id), returning (id, n, sig) with the same values as
    * `minhashSignature` on the collected hash array — but every permutation
    * is a codegen'd top-level expression instead of an interpreted lambda.
    */
  def minhashSigRows(rows: DataFrame, idCol: String, k: Int): DataFrame = {
    val mins = (0 until k).map { i =>
      min(pmod(permA(lit(i)) * col("s") + permB(lit(i)), lit(HashPrime))).as(s"m$i")
    }
    rows.groupBy(col(idCol), col("n"))
      .agg(mins.head, mins.tail: _*)
      .select(col(idCol), col("n"),
        array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** 60-bit SimHash per document, computed relationally: explode tokens
    * (duplicates kept — SimHash is frequency-weighted), hash each token
    * once at top level, then 60 per-bit sign sums in one hash aggregate.
    * Bit-identical to `simhash60` over the token array. Documents whose
    * token array is empty produce no rows (`tokens` of a non-null string
    * is never empty, so this matches the array form on this schema).
    */
  def simhashRows(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sums = (0 until 60).map { b =>
      sum(shiftright(col("h"), b).bitwiseAND(lit(1L)) * 2L - 1L).as(s"b$b")
    }
    val sh = (0 until 60)
      .map(b => when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    df.select(col(idCol), explode(tokens(col(textCol))).as("w"))
      .select(col(idCol), h60(col("w")).as("h"))
      .groupBy(col(idCol))
      .agg(sums.head, sums.tail: _*)
      .select(col(idCol), sh.as("simhash"))
  }

  /** 60-bit SimHash signature table (idCol, simhash) via the native
    * bounded-state aggregate: explode tokens, hash each once at top level
    * (whole-stage codegen'd sha2), then SimHashAgg folds the 60 per-bit
    * ±1 sums in a 240-byte buffer per document, partial-merged map-side.
    * Bit-identical to `simhash60` / `simhashRows` (integer bit-sums are
    * order-independent; spec'd in TextOpsSpec). The ONE signature builder
    * behind both the batch InterStage table and the streaming ingest
    * screen, so the two paths cannot diverge. Documents with an empty
    * token array produce no row (`tokens` of a non-null string is never
    * empty on this schema).
    */
  def simhashAggRows(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(tokens(col(textCol))).as("w"))
      .select(col(idCol), h60(col("w")).as("h"))
      .groupBy(col(idCol))
      .agg(graft.functions.SimHashAgg.simhashAgg(col("h")).as("simhash"))

  /** One (idCol, sh, bidx, bval) row per pigeonhole band of a 60-bit
    * signature table — 9 bands of 7 bits (the top one effectively 4): any
    * pair within hamming 8 differs in at most 8 bands, so it SHARES at
    * least one untouched band and a (bidx, bval) equi-join over these rows
    * is a COMPLETE candidate generator for hamming <= 8. Shared by the
    * batch d5/d6 self-join, the batch d8 one-sided batch-vs-history join,
    * and the streaming ingest screen, so the band layout can never diverge
    * between them.
    */
  def simhashBands60(sig: DataFrame, idCol: String, shCol: String): DataFrame = {
    val bandBits = 7
    sig.select(col(idCol), col(shCol),
      posexplode(array((0 until 9).map(b =>
        shiftright(col(shCol), b * bandBits).bitwiseAND(lit(127L))): _*)))
      .toDF(idCol, shCol, "bidx", "bval")
  }

  /** Winnowing document fingerprints (Schleimer et al.'s local fingerprint
    * selection): hash every `gramLen`-char shingle to 32 bits, take the
    * minimum of each sliding window of `window` consecutive grams, and keep
    * the distinct minima per document. Returns one row per doc:
    * (id, n_fingerprints, fp_digest) where fp_digest is sha2 over the
    * sorted fingerprint values.
    *
    * The window-min runs partitioned by document (one shuffle by doc id);
    * at cluster scale this is the natural partitioning since documents are
    * independent.
    */
  /** Sequential PII scrub with per-pattern match counts: email -> IPv4 ->
    * digit-run, each stage scrubbing the previous stage's output and
    * counting on its own input so nothing double-counts (replacement
    * tokens contain no digits). Patterns are RE2-safe (no lookaround) so
    * any engine reproduces them. Pure per-row projection — no shuffle,
    * whole-stage codegen'd, regexes precompiled per task — so it composes
    * with any scan at 100 TB and runs UNCHANGED on a streaming frame (the
    * StreamingSpec asserts streaming == batch).
    *
    * @return (idCol, n_emails, n_ipv4, n_digit_runs, scrubbed, len_delta)
    */
  def piiScrub(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ipv4 = "\\b[0-9]{1,3}(\\.[0-9]{1,3}){3}\\b"
    val num = "[0-9]+"
    val s1 = regexp_replace(col(textCol), email, "<EMAIL>")
    val s2 = regexp_replace(s1, ipv4, "<IP>")
    val s3 = regexp_replace(s2, num, "<NUM>")
    df.select(
      col(idCol),
      size(regexp_extract_all(col(textCol), lit(email), lit(0)))
        .cast(LongType).as("n_emails"),
      size(regexp_extract_all(s1, lit(ipv4), lit(0)))
        .cast(LongType).as("n_ipv4"),
      size(regexp_extract_all(s2, lit(num), lit(0)))
        .cast(LongType).as("n_digit_runs"),
      s3.as("scrubbed"),
      (length(col(textCol)) - length(s3)).cast(LongType).as("len_delta"))
  }

  /** Distinct winnowing fingerprints, one row per (doc, fingerprint) —
    * the joinable form: t11's corpus duplication rate groups these by
    * fingerprint; winnowFingerprints aggregates them per doc.
    */
  def winnowRows(df: DataFrame, idCol: String, textCol: String,
                 gramLen: Int = 8, window: Int = 4): DataFrame = {
    // Grams via an exploded position sequence + top-level substr/hash —
    // whole-stage codegen end to end (the charShingles/transform array form
    // evaluates interpreted, ~15x slower at sf0.1). Docs shorter than
    // gramLen yield no positions, same as the empty charShingles array.
    val exploded = df
      .where(length(col(textCol)) >= gramLen)
      .select(col(idCol), col(textCol),
        explode(sequence(lit(1), length(col(textCol)) - (gramLen - 1))).as("pos"))
      .select(col(idCol), col("pos"),
        pmod(h60(col(textCol).substr(col("pos"), lit(gramLen))), lit(4294967296L)).as("gh"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, window - 1)
    val maxPos = Window.partitionBy(col(idCol))
    exploded
      .withColumn("win_min", min(col("gh")).over(w))
      .withColumn("max_pos", max(col("pos")).over(maxPos))
      .where(col("pos") <= col("max_pos") - (window - 1))
      .select(col(idCol), col("win_min"))
      .distinct()
  }

  /** Per-doc rollup of winnowRows output: fingerprint count + an
    * order-independent digest of the fingerprint set.
    */
  def winnowAggregate(rows: DataFrame, idCol: String): DataFrame =
    rows
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_fingerprints"),
        sha2(concat_ws("-",
          transform(array_sort(collect_list(col("win_min"))), x => x.cast("string"))), 256)
          .as("fp_digest"))

  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         gramLen: Int = 8, window: Int = 4): DataFrame =
    winnowAggregate(winnowRows(df, idCol, textCol, gramLen, window), idCol)

  /** Maximal duplicated-substring spans per document — exact substring
    * dedup ("Deduplicating Training Data Makes Language Models Better",
    * Lee et al. 2022) re-expressed for a cluster. The single-node tool is
    * a suffix array; the distributable equivalent used here: every char
    * position contributes one `gramLen`-char gram, a gram whose exact
    * bytes occur at >= 2 positions corpus-wide (any document, including
    * the same one) marks its chars duplicated, and the per-doc union of
    * those char intervals collapses to maximal disjoint spans
    * (`span_start`, `span_len`, both char-granular, 1-based).
    *
    * Scale shape: the occurrence count groups on the 60-bit gram hash — a
    * uniformly distributed corpus-wide shuffle key, the same shape as the
    * winnowing fingerprint count (t11) — and the island merge is a
    * per-doc window bounded by document length. Nothing is quadratic:
    * unlike the pair-list dedup ops, the output here is spans, linear in
    * corpus size however heavy the duplication.
    *
    * Span semantics: positions whose covering intervals touch or overlap
    * (gap <= gramLen) merge, so spans are disjoint and `sum(span_len)` is
    * the exact duplicated-char count.
    */
  def repeatedSpanRows(df: DataFrame, idCol: String, textCol: String,
                       gramLen: Int = 20): DataFrame = {
    // Gram hashing runs over the UTF-8 BYTES: `substr` on a string walks
    // codepoints from the start (O(pos) per gram → O(len²) per document —
    // measured 133 s vs 9 s at the 10x probe), while `substr` on binary
    // is an O(1) offset slice, and sha2 of the byte slice is the same
    // digest DuckDB computes from the character substring whenever byte
    // and character offsets coincide (single-byte text — which the gate
    // corpus is; a multi-byte corpus would shift span offsets, not miss
    // repeats). The occurrence count is a window over ONE gram pass —
    // shuffle keyed by the gram hash — instead of a groupBy + join-back
    // that would scan and hash the corpus twice.
    val grams = df
      .where(length(col(textCol)) >= gramLen)
      .select(col(idCol), encode(col(textCol), "UTF-8").as("tb"))
      .select(col(idCol), col("tb"),
        explode(sequence(lit(1), length(col("tb")) - (gramLen - 1))).as("pos"))
      .select(col(idCol), col("pos"),
        conv(substring(sha2(col("tb").substr(col("pos"), lit(gramLen)), 256),
          1, 15), 16, 10).cast(LongType).as("gh"))
    val dupPos = grams
      .withColumn("n_occ", count(lit(1)).over(Window.partitionBy(col("gh"))))
      .where(col("n_occ") >= 2)
      .select(col(idCol), col("pos"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    dupPos
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(w) > gramLen, 1L).otherwise(0L))
      .withColumn("grp",
        sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("grp"))
      .agg(min(col("pos")).as("p0"), max(col("pos")).as("p1"))
      .select(col(idCol),
        col("p0").cast(LongType).as("span_start"),
        (col("p1") - col("p0") + gramLen).cast(LongType).as("span_len"))
  }

  /** Per-row quality screen shared by the tp1 manifest and the streaming
    * ingest twin: token-count window + type/token-ratio floor. Pure
    * projection + filter — runs unchanged on a stream.
    * @return (idCol, langCol, n_tokens)
    */
  def qualityScreen(df: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text",
                    langCol: String = "lang"): DataFrame = {
    val t = tokens(col(textCol))
    df.select(col(idCol), col(langCol), size(t).cast(LongType).as("n_tokens"),
        (size(array_distinct(t)).cast("double") / size(t)).as("ttr"))
      .where(col("n_tokens").between(50L, 100000L) && col("ttr") >= 0.05)
      .drop("ttr")
  }

  /** Sqrt-temperature mixture thresholds over a screened corpus (XLM-R
    * style, exact integer micro-unit math — see the t15 gate): per
    * language, an integer hash threshold out of 2^20 such that expected
    * selections meet the w ∝ c_tok^0.5 quota. O(#languages) output; the
    * unpartitioned windows run over the per-language aggregate only.
    * @return (langCol, thr)
    */
  def mixtureThresholds(screened: DataFrame,
                        langCol: String = "lang"): DataFrame =
    screened.groupBy(langCol)
      .agg(count(lit(1)).as("c_docs"), sum(col("n_tokens")).as("c_tok"))
      .withColumn("wi",
        floor(sqrt(col("c_tok").cast("double")) * 1e6).cast(LongType))
      .withColumn("quota",
        expr("(((sum(c_docs) OVER ()) div 2) * wi) div (sum(wi) OVER ())"))
      .withColumn("thr", expr("(1048576 * quota) div c_docs"))
      .select(col(langCol), col("thr"))

  /** Hash-Bernoulli mixture selection against broadcast thresholds: a
    * pure row predicate (deterministic under any partitioning, streamable
    * unchanged). The corpus-global statistic lives in `thresholds`;
    * production refreshes it offline while ingest keeps applying it
    * map-only.
    * @return (idCol, langCol, n_tokens)
    */
  def mixtureSelect(screened: DataFrame, thresholds: DataFrame,
                    idCol: String = "doc_id",
                    langCol: String = "lang"): DataFrame =
    screened.join(broadcast(thresholds), langCol)
      .where(pmod(h60(concat_ws("|", lit("mix42"), col(idCol))),
        lit(1048576L)) < col("thr"))
      .select(col(idCol), col(langCol), col("n_tokens"))

  /** EXACT stratified split: per stratum, exactly ceil(n/10) rows to
    * 'val', the rest 'train' — the per-stratum-exact counterpart of the
    * hash split (proportional only in expectation; a small stratum can
    * land 0 eval rows by chance, and an eval set needs every stratum
    * represented, down to a single-row one). `ntile(10)` over the salted
    * deterministic order assigns exactly ceil(n/10) rows to bucket 1
    * (SQL-standard larger-buckets-first — identical in Spark and DuckDB),
    * so one window does the whole job. One shuffle on the stratum column.
    */
  def stratifiedSplit(df: DataFrame, strataCol: String, idCol: String,
                      salt: String): DataFrame = {
    val ord = Window.partitionBy(col(strataCol)).orderBy(
      sha2(concat_ws("|", lit(salt), col(idCol).cast("string")), 256), col(idCol))
    df.withColumn("split",
      when(ntile(10).over(ord) === 1, "val").otherwise("train"))
  }

  /** Per-group weight-budget cap ("≤ B tokens per domain"): rows admitted
    * in the salted deterministic order WHILE budget remains before each
    * row — `cum − w < budget`, not `cum ≤ budget`, so a group whose first
    * row alone exceeds the budget still contributes that row (a cum-based
    * filter would silently exclude whole large-document domains — the
    * same stratum-starvation failure stratifiedSplit exists to prevent).
    * The admitted set may overshoot the budget by at most one row's
    * weight, the standard knapsack-free admission rule. Running sum over
    * an explicit ROWS frame (unique order, ties impossible); one shuffle
    * on the group column. Emits `cum_w` (the running weight) for the
    * quota report.
    *
    * Weights must be NON-NEGATIVE — the admitted-set-is-a-prefix property
    * (and the ≤-one-row overshoot bound) needs a monotone running sum; a
    * negative weight would let rows past the budget re-admit. Token/char
    * counts satisfy this by nature but only by convention, so the contract
    * is enforced in-plan: a codegen'd `raise_error` on the first negative
    * weight, zero extra passes.
    */
  def weightBudgetCap(df: DataFrame, groupCol: String, idCol: String,
                      weightCol: String, budget: Long, salt: String): DataFrame = {
    val w = when(col(weightCol) < 0, raise_error(concat(
        lit(s"weightBudgetCap: negative $weightCol ("), col(weightCol).cast("string"),
        lit(s") for $idCol="), col(idCol).cast("string"),
        lit(") — the prefix-admission rule needs non-negative weights"))))
      .otherwise(col(weightCol))
    val ord = Window.partitionBy(col(groupCol)).orderBy(
        sha2(concat_ws("|", lit(salt), col(idCol).cast("string")), 256), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("cum_w", sum(w).over(ord))
      .where(col("cum_w") - col(weightCol) < budget)
  }

  /** Bounded edit-distance self-join via PassJoin-style segment blocking
    * (Li/Deng/Feng's partition scheme): every pair within Levenshtein
    * distance ≤ `tau` — the entity-resolution / fuzzy-record-linkage join,
    * done WITHOUT the all-pairs scan (t5's brute-force shape, fine for 30
    * rows, fatal for a corpus).
    *
    * Pigeonhole: partition an indexed string into `tau+1` contiguous
    * segments; ≤ tau edits touch ≤ tau of them, so for any matching pair
    * at least one segment of the indexed string survives VERBATIM in the
    * probe string, shifted by a bounded offset. So candidates come from an
    * EQUI-join on (segment#, indexed length, substring): the index emits
    * its tau+1 segments; the probe emits, for each plausible indexed
    * length lb ∈ [L−tau, L+tau], each segment's substring at each shift in
    * the MULTI-MATCH-AWARE window [max(−j, Δ−(τ−j)), min(j, Δ+(τ−j))]
    * (PassJoin Lemma 3; Δ = L − lb) — the published refinement that cuts
    * the loose (2tau+1)²·(tau+1) = 75 keys/row at tau=2 to 19 (Σ over the
    * 5 lb values: 5 + 9 + 5 across j = 0..2). Segment keys shuffle,
    * documents never do.
    *
    * Survivors verify with the real `levenshtein` (codegen'd in Spark,
    * recomputed by the DuckDB oracle), so blocking affects cost only —
    * never the result. Strings shorter than tau+1 chars can't host tau+1
    * nonempty segments, but any two of them are within tau by construction
    * (ed ≤ max length), so that sliver broadcast-pairs directly; mixed
    * short-long pairs ride the main path (only the INDEX side needs
    * tau+1 chars, and the probe enumerates index lengths ≥ tau+1).
    *
    * Hazard at scale, same family as d2's hot shingles: a segment shared
    * by many strings (templated prefixes) fans out quadratically in the
    * candidate join. Natural-text keys keep segments rare; for templated
    * corpora, block on the variable field instead.
    *
    * @return (id1, id2, dist) with id1 < id2, dist ≤ tau, exactly the
    *         brute-force pair set (the gate hash-checks this).
    */
  def editDistanceJoin(df: DataFrame, idCol: String, strCol: String,
                       tau: Int, allowRiskyBlocking: Boolean = false): DataFrame = {
    val (t, short, cands) = edJoinParts(df, idCol, strCol, tau, allowRiskyBlocking)
    val longPairs = cands
      .join(t.select(col("__id").as("id1"), col("__s").as("s1")), "id1")
      .join(t.select(col("__id").as("id2"), col("__s").as("s2")), "id2")
      .withColumn("dist", levenshtein(col("s1"), col("s2")).cast(LongType))
      .where(col("dist") <= tau)

    val shortPairs = short.select(col("__id").as("id1"), col("__s").as("s1"))
      .join(broadcast(short.select(col("__id").as("id2"), col("__s").as("s2"))),
        col("id1") < col("id2"))
      .withColumn("dist", levenshtein(col("s1"), col("s2")).cast(LongType))

    longPairs.select(col("id1"), col("id2"), col("dist"))
      .union(shortPairs.select(col("id1"), col("id2"), col("dist")))
  }

  /** Measured floor for PassJoin segment selectivity (the blocking sweep,
    * SCALE.md round-12 table): segments of ≥ 10 chars kept candidates/row
    * ~flat through 100× (t22's prefix-30/τ=2 config is exactly 10); τ=3
    * over 30-char strings — 7-char segments — went quadratic (736 → 2,209
    * cand/row at 3× rows, and climbing with n). Below this, blocking keys
    * are common substrings and the equi-join fans out all-pairs-like.
    */
  val MinSafeSegmentChars = 10

  /** The construction behind `editDistanceJoin`:
    * returns (typed input `t`, the short-string sliver, the deduped
    * candidate id pairs from the pigeonhole equi-join).
    *
    * Enforces the measured blocking contract unless `allowRiskyBlocking`:
    * the MEDIAN long-string length must give segments of at least
    * `MinSafeSegmentChars` chars (`len div (tau+1)`), else the candidate
    * join is in its probed quadratic regime and the call fails loudly with
    * the fix (longer blocking prefix, or smaller tau) instead of
    * "succeeding" into an all-pairs-shaped shuffle at corpus scale. The
    * check is one extra agg scan over the length column — noise next to
    * the join it protects; the median (not min) so a sliver of short rows
    * — which bypass blocking anyway — can't trip it. Probes measuring the
    * quadratic regime on purpose pass `allowRiskyBlocking = true`.
    */
  private def edJoinParts(df: DataFrame, idCol: String, strCol: String,
                          tau: Int, allowRiskyBlocking: Boolean = false)
      : (DataFrame, DataFrame, DataFrame) = {
    require(tau >= 1, s"editDistanceJoin needs tau >= 1, got $tau")
    val seg = tau + 1
    if (!allowRiskyBlocking) {
      val med = df.where(length(col(strCol)) >= seg)
        .agg(percentile_approx(length(col(strCol)), lit(0.5), lit(1000)))
        .head().getAs[Any](0)
      med match {
        case l: Number if l.longValue() / seg < MinSafeSegmentChars =>
          throw new IllegalArgumentException(
            s"editDistanceJoin: median string length ${l.longValue()} with " +
              s"tau=$tau gives ${l.longValue() / seg}-char segments — below " +
              s"the measured $MinSafeSegmentChars-char selectivity floor " +
              "(SCALE.md round 12: this regime's candidate volume grows " +
              "quadratically with the corpus). Use a longer blocking " +
              "string or a smaller tau, or pass allowRiskyBlocking=true " +
              "if the corpus is small enough to eat the all-pairs cost.")
        case _ => () // no long rows at all: the short sliver handles everything
      }
    }
    // ids pass through untyped (least/greatest/joins work on any orderable
    // type) — a silent cast would null out non-numeric ids and return an
    // empty join instead of failing
    val t = df.select(col(idCol).as("__id"),
      col(strCol).as("__s"), length(col(strCol)).as("__L"))
    val long = t.where(col("__L") >= seg)
    val short = t.where(col("__L") < seg)

    val idx = long
      .withColumn("j", explode(sequence(lit(0), lit(tau))))
      .select(col("__id").as("b_id"), col("__L").as("lb"), col("j"),
        expr(s"substring(__s, (j * __L) div $seg + 1, " +
          s"((j + 1) * __L) div $seg - (j * __L) div $seg)").as("sub"))

    val probe = t
      .withColumn("dl", explode(sequence(lit(-tau), lit(tau))))
      .withColumn("lb", col("__L") + col("dl"))
      .where(col("lb") >= seg)
      .withColumn("j", explode(sequence(lit(0), lit(tau))))
      // Multi-match-aware substring selection (PassJoin Lemma 3, 0-indexed
      // j = i-1, Δ = probe_len − indexed_len = −dl): a matching segment's
      // start shift d is bounded by the edits available BEFORE it (≤ j)
      // and AFTER it (≤ τ−j, net Δ), so
      //   d ∈ [max(−j, Δ−(τ−j)), min(j, Δ+(τ−j))]
      // instead of the loose [−τ, τ] — 75 → 19 probe keys/row at τ=2
      // (SCALE.md, 10× corpus: 81.8 → candidates/row drop measured
      // alongside). The interval is never empty for |Δ| ≤ τ, j ≤ τ (all
      // four bound pairs reduce to |Δ| ≤ τ or j ≤ τ), so the plain
      // ascending sequence is safe. Completeness is the published lemma;
      // FuzzyJoinSpec pins blocked == brute force on the corpus, the
      // indel fixtures, and a dense two-letter stress set.
      .withColumn("d", explode(sequence(
        greatest(-col("j"), -col("dl") - (lit(tau) - col("j"))),
        least(col("j"), -col("dl") + (lit(tau) - col("j"))))))
      .withColumn("st", expr(s"(j * lb) div $seg") + col("d"))
      .withColumn("ln",
        expr(s"((j + 1) * lb) div $seg - (j * lb) div $seg"))
      .where(col("st") >= 0 && col("st") + col("ln") <= col("__L"))
      .select(col("__id").as("a_id"), col("lb"), col("j"),
        expr("substring(__s, st + 1, ln)").as("sub"))

    val cands = probe.join(idx, Seq("j", "lb", "sub"))
      .where(col("a_id") =!= col("b_id"))
      .select(least(col("a_id"), col("b_id")).as("id1"),
        greatest(col("a_id"), col("b_id")).as("id2"))
      .distinct()
    (t, short, cands)
  }
}
