package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Graph, InterStage, Relational, VectorOps}

/** Embedding similarity search over the `embeddings` table (64-dim unit
  * vectors): brute-force cosine top-k as the correctness baseline, sign-LSH
  * bucketed top-k as the scale path, and cosine near-dup pairs.
  *
  * All float elements are cast to double and summed left-to-right, so the
  * DuckDB oracle's `list_reduce` fold reproduces the exact IEEE sequence —
  * similarity values compare bit-for-bit without rounding slop.
  */
object VectorQueries {

  /** DuckDB fragment mirroring VectorOps.dotD (left fold from 0.0:
    * 0.0 + p1 == p1 exactly, so the no-init fold is identical).
    */
  private def dDot(a: String, b: String) =
    s"list_reduce(list_transform(list_zip($a, $b), z -> z[1]::DOUBLE * z[2]::DOUBLE), (x, y) -> x + y)"
  private def dCos(a: String, b: String) =
    s"(${dDot(a, b)} / (sqrt(${dDot(a, a)}) * sqrt(${dDot(b, b)})))"

  /** Deterministic sign-LSH hyperplanes (shared with the oracle). THREE
    * independent `MaxPlanes`-wide tables: e2 multiprobes all three for its
    * candidate pool, and e3 band-ORs all three (a pair is a candidate if
    * ANY table buckets it within the flip radius) — the d3-style recall
    * amplification: miss probability multiplies per table.
    *
    * Corpus-adaptive sizing (the SCALE.md lesson): a FIXED bucket space
    * saturates — occupancy = n / 2^planes grows linearly with the corpus
    * and the per-bucket self-join grows with its square (the measured
    * ~90x-at-10x blowup). Each table is therefore materialized at the full
    * `MaxPlanes` width once, and every query masks the stored bucket down
    * to `adaptivePlanes(n)` low bits — the count that pins mean occupancy
    * at ~`TargetOcc` — so candidate volume stays ~linear in n while the
    * materialized index never needs rebuilding as the corpus grows. The
    * oracle derives the same plane count from `count(*)` with the same
    * integer thresholds, so every configuration stays gate-checkable.
    */
  val Dim = 64
  val MaxPlanes = 16
  val MinPlanes = 6
  /** Floor table width: the sf0.01 gate corpus sizes to exactly this, so
    * the gates exercise high-occupancy collisions; also the fixed prefix
    * width the op-level LSH spec buckets with.
    */
  val Planes = MinPlanes
  /** Target mean bucket occupancy per table: small enough that the
    * per-bucket join stays cheap, large enough that the sf0.01 gate corpus
    * (500 vectors) still exercises real collisions at MinPlanes.
    */
  val TargetOcc = 16L
  /** Planes to use for a corpus of n vectors: the smallest width in
    * [MinPlanes, MaxPlanes] with n <= TargetOcc * 2^planes. Integer
    * thresholds only — the oracle's CASE chain reproduces them exactly.
    */
  def adaptivePlanes(n: Long): Int = {
    var p = MinPlanes
    while (p < MaxPlanes && n > (TargetOcc << p)) p += 1
    p
  }
  /** Flip radius: wider buckets disagree on more planes for the same pair,
    * so the multiprobe radius steps up with the plane count (<=2-bit flips
    * under RadiusSwitch planes, <=3-bit from there): at the sim=0.4
    * threshold a pair disagrees per plane with p ~ acos(0.4)/pi ~ 0.37,
    * and radius 3 holds the three-table band-OR recall near ~0.8 on
    * threshold-boundary pairs where radius 2 would fall under 0.5.
    */
  val RadiusSwitch = 9
  def flipRadius(planes: Int): Int = if (planes >= RadiusSwitch) 3 else 2

  /** IVF list-count width: the smallest p with 4^p >= n, i.e. nlists =
    * 2^p ~ sqrt(n) — the classic IVF balance (per-vector assignment cost
    * nlists vs per-probe list length n/nlists both grow as sqrt(n); the
    * occupancy-pinned adaptivePlanes sizing would make assignment
    * quadratic). Integer thresholds; the oracle mirrors them by CASE.
    */
  val MinIvfPlanes = 3
  /** IVF probe widths (lists searched per query). e6's quantizer is the 10
    * fixed semantic-label centroids — on this corpus the labels only
    * weakly track vector geometry, so recall tracks the scanned fraction
    * and nprobe must cover a real share of the 10 lists (recall@5 ladder
    * measured at sf0.1, SCALE.md: nprobe 2 -> 0.41, 4 -> 0.64,
    * 6 -> 0.83). e6b's trained quantizer gets geometric lists but ~sqrt(n)
    * of them, so its nprobe is wider too (2 -> 0.18, 8 -> 0.42, 16 with
    * Lloyd-2 + 2x assignment -> 0.85); per-probe cost stays
    * nprobe * n / nlists ~ nprobe * sqrt(n) — the IVF balance unchanged.
    */
  val E6Nprobe = 6
  val E6bNprobe = 16
  /** Lloyd passes for e6b's trained quantizer (assign + re-mean, from the
    * deterministic LSH init). One pass leaves the LSH geometry's heavily
    * overlapping cells; the second separates them enough that a true
    * neighbor's cell lands in the probe's top-nprobe csim lists.
    */
  val E6bLloydIters = 2
  /** Index replication for e6b: each corpus vector enters its top-`r`
    * lists (the FAISS multi-assignment trick). On an isotropic corpus the
    * Voronoi cells are leaky — a neighbor's single best cell misses the
    * probe's nprobe set too often — and replication attacks the miss
    * probability from the index side at r x storage instead of wider
    * scans.
    */
  val E6bAssign = 2
  /** e7's hamming re-rank pool: the 64-bit sign sketch is a coarse cosine
    * proxy (a true top-5 neighbor's expected hamming sits ~2-3 sketch-bit
    * std-devs below a random vector's), so ranking by hamming alone keeps
    * only ~0.13 of the true top-5. The standard binary-quantization fix:
    * keep the RerankPool least-hamming candidates per probe and let exact
    * cosine pick the final 5 — the heap stays bounded per partition and
    * only pool-many full vectors are ever fetched per probe.
    */
  val E7RerankPool = 200
  def ivfPlanes(n: Long): Int = {
    var p = MinIvfPlanes
    while (p < MaxPlanes && (1L << (2 * p)) < n) p += 1
    p
  }
  /** Product-quantization geometry (e10): PqM subspaces of PqSubDim dims
    * (PqM * PqSubDim = Dim), PqKs = 256 centroids per subspace — the
    * standard 8-bit subquantizer, so a vector stores PqM bytes = 64 bits
    * vs 2048 for float32 (32x). The 4-bit first cut measured recall@5
    * 0.570 at sf0.1 (SCALE.md) — half a bit per dimension quantizes
    * away the neighborhood structure; 8-bit reads 0.9+ with the same
    * rerank pool. Codebooks are per-subspace means over a deterministic
    * 8-plane sign-LSH init (no RNG; the oracle regenerates them).
    * PqRerank is the ADC-candidate pool exact cosine re-ranks — the
    * standard IVFADC+refine split: the coarse ADC scan ranks with table
    * lookups only, and full vectors are fetched for pool-many candidates
    * per probe.
    */
  val PqM = 8
  val PqSubDim = 8
  val PqCodeBits = 8
  val PqKs = 1 << PqCodeBits
  val PqRerank = 100
  lazy val pqPlaneTables: Seq[Seq[Seq[Long]]] =
    (0 until PqM).map(j => VectorOps.hyperplaneInts(PqCodeBits, PqSubDim, s"pq$j|"))
  private def dIvfPlanesCase: String =
    (MinIvfPlanes until MaxPlanes)
      .map(p => s"WHEN count(*) <= ${1L << (2 * p)} THEN $p")
      .mkString("(CASE ", " ", s" ELSE $MaxPlanes END)")

  lazy val planeInts: Seq[Seq[Long]] = VectorOps.hyperplaneInts(MaxPlanes, Dim)
  lazy val planeInts2: Seq[Seq[Long]] = VectorOps.hyperplaneInts(MaxPlanes, Dim, "t2|")
  lazy val planeInts3: Seq[Seq[Long]] = VectorOps.hyperplaneInts(MaxPlanes, Dim, "t3|")

  /** Multi-probe masks for e2: every bucket flip of Hamming weight <= 2
    * over the FULL MaxPlanes width — flips of planes above the active
    * adaptive width XOR to buckets no vector has, so the extra masks add
    * no candidates and the same literal list serves every corpus size in
    * both engines. Radius 2 (not 1) and ALL THREE tables is what holds
    * recall@5: at 7 active planes a true top-5 neighbor (cosine ~0.4-0.6,
    * per-plane disagreement p ~ acos(sim)/pi ~ 0.3-0.37) lands within one
    * table's radius-2 probe set with P ~ 0.5, and the three-table OR
    * lifts that to ~0.87 — measured 0.17 with the old radius-1
    * single-table probe, 0.9+ with this one (SCALE.md, sf0.1).
    */
  val probeMasks: Seq[Long] =
    (0L until (1L << MaxPlanes)).filter(m => java.lang.Long.bitCount(m) <= 2)

  /** Pair-recall masks for e3: all bucket flips of Hamming weight <= radius
    * over `planes` bits. Candidate generation stays a bucket equi-join per
    * table; within one table a pair matches exactly one mask (m = bucket_x
    * XOR bucket_y), so duplicates only arise across tables — and the
    * pair distinct runs AFTER the cheap inline verify, on qualifying pairs
    * only, never on the full candidate stream.
    */
  def pairMasks(planes: Int, radius: Int): Seq[Long] =
    (0L until (1L << planes)).filter(m => java.lang.Long.bitCount(m) <= radius)

  /** DuckDB fragment mirroring VectorOps.lshBucket for column `v`. The
    * default is e2's fixed-width table-1 prefix (bit p of the stored
    * MaxPlanes bucket comes from plane p alone, so the stored bucket
    * masked to Planes low bits equals bucketing with the prefix table).
    */
  private def dBucket(v: String, table: Seq[Seq[Long]]): String =
    table.zipWithIndex.map { case (ints, p) =>
      val plane = ints.map(m => s"$m/1000000.0 - 1.0").mkString("[", ", ", "]")
      s"(CASE WHEN ${dDot(v, plane)} > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** ANN probe set: a FIXED-SIZE prefix of the id space, not a modulus of
    * it. `vec_id % 50` made probe count proportional to the corpus, so the
    * e1/e7 broadcast scans were quadratic in the gate's own terms; a fixed
    * probe set is the actual ANN contract (external queries against a
    * corpus-sized index) and keeps every probe-side broadcast O(1) as the
    * corpus grows. 40 probes = the sf0.1 probe count under the old modulus,
    * so bench numbers stay comparable.
    *
    * The prefix is RANK-based — the `ProbeCount` lowest vec_ids actually
    * present — not `vec_id < ProbeCount`: a sparse or offset id space
    * (ids starting at 10^9, say) would make a literal-threshold filter
    * silently probe nothing. The cutoff id is one tiny top-k job per
    * (corpus, session), cached like the inter-stage tables; on a dense
    * 0-based corpus it equals ProbeCount - 1, so results are unchanged.
    */
  val ProbeCount = 40
  private val probeCuts = scala.collection.concurrent.TrieMap.empty[String, Long]
  private def probeCut(s: SparkSession, d: String): Long =
    probeCuts.getOrElseUpdate(InterStage.tableKey(d, "embeddings"), {
      val cut = Tables.load(s, d, "embeddings")
        .select(col("vec_id")).orderBy(col("vec_id")).limit(ProbeCount)
        .agg(max(col("vec_id"))).head()
      require(!cut.isNullAt(0), "embeddings corpus is empty: no ANN probe set")
      cut.getLong(0)
    })
  private def probeFilter(s: SparkSession, d: String) =
    col("vec_id") <= probeCut(s, d)
  private val probeFilterSql = "vec_id <= (SELECT max(vec_id) FROM " +
    s"(SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT $ProbeCount) pq)"

  /** The corpus with its L2 norm and all three MaxPlanes-wide sign-LSH
    * table buckets precomputed — one materialized inter-stage table shared
    * by e2/e3/e6/e7, so the 48 hyperplane dot products, the sign words and
    * the norm run exactly once per vector per session and nothing stays in
    * the block cache after a query returns. Storing the FULL-width buckets
    * is what makes the plane count a query-time knob: any corpus size
    * masks down to its adaptive width without re-indexing. (Queries that
    * don't touch a bucket column never pay for it: the parquet reader
    * prunes it.)
    */
  /** One 32-bit word of the e7 binary sign signature: bit i of `word(v, o)`
    * is set iff element o+i+1 of `v` is positive.
    */
  private def signWord(v: org.apache.spark.sql.Column, off: Int) =
    (0 until 32).map(i =>
      when(element_at(v, off + i + 1) > 0f, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)

  private def normedBuckets(s: SparkSession, d: String) =
    InterStage.materialize(s, InterStage.tableKey(d, "embeddings") + "|lsh16x3norm",
      Tables.load(s, d, "embeddings")
        .withColumn("bucket", VectorOps.lshBucket(col("embedding"), planeInts))
        .withColumn("bucket2", VectorOps.lshBucket(col("embedding"), planeInts2))
        .withColumn("bucket3", VectorOps.lshBucket(col("embedding"), planeInts3))
        .withColumn("sig_lo", signWord(col("embedding"), 0))
        .withColumn("sig_hi", signWord(col("embedding"), 32))
        .withColumn("norm", VectorOps.l2Norm(col("embedding"))))

  /** DuckDB CASE chain reproducing adaptivePlanes(count(*)) / flipRadius —
    * the oracle sizes the LSH from the corpus count with the same integer
    * thresholds the Spark side uses.
    */
  private def dPlanesCase: String =
    (MinPlanes until MaxPlanes)
      .map(p => s"WHEN count(*) <= ${TargetOcc << p} THEN $p")
      .mkString("(CASE ", " ", s" ELSE $MaxPlanes END)")
  private def dRadiusCase: String =
    s"(CASE WHEN count(*) > ${TargetOcc << (RadiusSwitch - 1)} THEN 3 ELSE 2 END)"
  /** e7b gate hamming threshold: inside the 9-band pigeonhole completeness
    * regime the result would be empty on this corpus (closest signature
    * pair: hamming 14), so the gate runs in the approximate regime where
    * the band join actually filters — its semantics are what the oracle
    * reproduces. Production binary dedup (hamming <= 3..8) runs complete.
    */
  val E7bMaxHamming = 20

  /** DuckDB fragment mirroring VectorOps.signBand for alias `pfx`: one
    * pigeonhole band of the 64-bit signature, assembled from the two
    * non-negative sign words.
    */
  private def dBand(pfx: String, off: Int, w: Int): String =
    if (off + w <= 32) s"(($pfx.sig_lo >> $off) & ${(1L << w) - 1})"
    else if (off >= 32) s"(($pfx.sig_hi >> ${off - 32}) & ${(1L << w) - 1})"
    else {
      val lo = 32 - off
      s"((($pfx.sig_lo >> $off) & ${(1L << lo) - 1}) + " +
        s"(($pfx.sig_hi & ${(1L << (w - lo)) - 1}) << $lo))"
    }

  /** The sign-signature corpus unioned with deterministic hamming-3
    * twins: every 25th vector re-enters under the bijective negative id
    * `-vec_id-1` with 3 sig_lo bits flipped (an id-derived mask), creating
    * guaranteed close pairs. Shared by the complete-regime gate (whose
    * oracle is the band-free brute-force scan — the completeness proof)
    * and the forced-tier gates (where the natural corpus yields almost no
    * in-band pairs at the coarse layouts).
    */
  private def sigWithTwins(s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val sig = sigTable(s, d)
    val twins = sig.where(pmod(col("vec_id"), lit(25L)) === 0)
      .select((negate(col("vec_id")) - 1).as("vec_id"),
        col("sig_lo").bitwiseXOR(
          expr("shiftleft(7L, cast(vec_id % 8 as int))")).as("sig_lo"),
        col("sig_hi"))
    sig.unionByName(twins)
  }

  /** DuckDB CTEs mirroring `sigWithTwins`: sig (sign words), tw (the
    * perturbed twins), u (their union) — queries select FROM u.
    */
  private def dSigTwinCtes: String =
    "WITH sig AS (SELECT vec_id, " +
      (0 until 32).map(i =>
        s"(CASE WHEN embedding[${i + 1}] > 0 THEN ${1L << i} ELSE 0 END)")
        .mkString("(", " + ", ") sig_lo, ") +
      (0 until 32).map(i =>
        s"(CASE WHEN embedding[${32 + i + 1}] > 0 THEN ${1L << i} ELSE 0 END)")
        .mkString("(", " + ", ") sig_hi FROM embeddings), ") +
      "tw AS (SELECT -vec_id - 1 AS vec_id, " +
      "xor(sig_lo, 7::BIGINT << (vec_id % 8)::INT) AS sig_lo, sig_hi " +
      "FROM sig WHERE vec_id % 25 = 0), " +
      "u AS (SELECT * FROM sig UNION ALL SELECT * FROM tw) "

  /** One band layout's OR-of-band-equality between aliases x and y. */
  private def dBandOr(bands: Seq[(Int, Int)]): String =
    bands.map { case (off, w) => s"${dBand("x", off, w)} = ${dBand("y", off, w)}" }
      .mkString("(", " OR ", ")")

  /** DuckDB predicate mirroring `VectorOps.adaptiveSignBands(count)` —
    * the CASE-over-count the ladder was designed for: each tier of
    * `adaptiveSignBandSteps` guards its band-OR with the SAME integer
    * count thresholds the Scala side dispatches on (the final tier
    * mirrors the ladder's `getOrElse(signBands4)`), so both engines
    * select identical band layouts from the corpus row count alone.
    * Expects alias `n(c)` = `count(*)` of the signature table in scope.
    */
  private def dAdaptiveBandPred: String = {
    val steps = VectorOps.adaptiveSignBandSteps
    val tiers = steps.zipWithIndex.map { case ((hi, bands), i) =>
      val lo = if (i == 0) "" else s"n.c > ${steps(i - 1)._1} AND "
      s"($lo" + s"n.c <= $hi AND ${dBandOr(bands)})"
    } :+ s"(n.c > ${steps.last._1} AND ${dBandOr(VectorOps.signBands4)})"
    tiers.mkString("(", " OR ", ")")
  }

  /** All <=3-bit masks over the FULL MaxPlanes width, as a SQL literal;
    * the oracle filters to the active radius with bit_count and masks
    * buckets to the active plane count — masks touching planes >= the
    * active count XOR to buckets no vector has, so they add no candidates
    * and the effective mask set equals pairMasks(planes, radius).
    */
  private def dPairMasks: String =
    pairMasks(MaxPlanes, 3).mkString("[", ", ", "]")

  /** e6's label-quantizer centroids and single-assignment inverted index,
    * materialized once per corpus — the same build/query split as e6b's
    * trained index below (an IVF index is built once and amortized over
    * every query; the corpus-wide nearest-centroid assignment is the
    * build step, not query work).
    */
  private def labelIvfTables(s: SparkSession, d: String) = {
    val aggs = count(lit(1)).as("cn") +: (0 until Dim).map(i =>
      sum(element_at(col("embedding"), i + 1).cast("double")).as(s"s$i"))
    val key = InterStage.tableKey(d, "embeddings")
    val cent = InterStage.materialize(s, key + "|lblcent",
      normedBuckets(s, d).groupBy(col("label")).agg(aggs.head, aggs.tail: _*)
        .select(col("label").as("c_label"),
          array((0 until Dim).map(i => col(s"s$i") / col("cn")): _*).as("c_vec"))
        .withColumn("c_norm", sqrt(VectorOps.dotD(col("c_vec"), col("c_vec")))))
    val idx = InterStage.materialize(s, key + "|lblidx", {
      val scored = normedBuckets(s, d)
        .select(col("vec_id"), col("embedding"), col("norm"))
        .crossJoin(broadcast(cent))
        .withColumn("csim", VectorOps.dotD(col("embedding"), col("c_vec")) /
          (col("norm") * col("c_norm")))
      Relational.top1PerGroup(scored, Seq(col("vec_id")),
          struct(negate(col("csim")), col("c_label")))
        .select(col("vec_id"), col("embedding"), col("norm"), col("c_label"))
    })
    (cent, idx)
  }

  /** e6b's trained coarse quantizer and replicated inverted index,
    * materialized once per corpus — the production IVF build/query split
    * (an index is built once and amortized over every query; recomputing
    * the corpus-wide Lloyd passes per query, as the pre-round-9 shape
    * did, made the gate pay the n x sqrt(n) build on every run).
    *
    * Centroids: E6bLloydIters Lloyd passes (broadcast-centroid score,
    * min_by assign, re-mean) from the deterministic LSH bucket-mean
    * initialization. Index: every vector enters its top-E6bAssign lists
    * by centroid cosine (multi-assignment). Keys carry the knob values so
    * a knob change re-materializes instead of serving a stale index.
    */
  private def ivfIndexTables(s: SparkSession, d: String) = {
    val aggs = count(lit(1)).as("cn") +: (0 until Dim).map(i =>
      sum(element_at(col("embedding"), i + 1).cast("double")).as(s"s$i"))
    def meansOf(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("c_list")).agg(aggs.head, aggs.tail: _*)
        .select(col("c_list"),
          array((0 until Dim).map(i => col(s"s$i") / col("cn")): _*).as("c_vec"))
        .withColumn("c_norm", sqrt(VectorOps.dotD(col("c_vec"), col("c_vec"))))
    def scoreAll(cent: org.apache.spark.sql.DataFrame) =
      normedBuckets(s, d).select(col("vec_id"), col("embedding"), col("norm"))
        .crossJoin(broadcast(cent))
        .withColumn("csim", VectorOps.dotD(col("embedding"), col("c_vec")) /
          (col("norm") * col("c_norm")))
        .select(col("vec_id"), col("embedding"), col("norm"),
          col("c_list"), col("csim"))
    val key = InterStage.tableKey(d, "embeddings")
    val cent = InterStage.materialize(s, key + s"|ivfcent$E6bLloydIters", {
      val e0 = normedBuckets(s, d)
      val planes = ivfPlanes(e0.count())
      var assigned = e0.select(col("vec_id"), col("embedding"), col("norm"),
        col("bucket").bitwiseAND(lit((1L << planes) - 1)).as("c_list"))
      for (_ <- 1 until E6bLloydIters)
        assigned = Relational.top1PerGroup(scoreAll(meansOf(assigned)),
            Seq(col("vec_id")), struct(negate(col("csim")), col("c_list")))
          .select(col("vec_id"), col("embedding"), col("norm"), col("c_list"))
      meansOf(assigned)
    })
    val idx = InterStage.materialize(s,
      key + s"|ivfidx$E6bLloydIters:$E6bAssign",
      // Multi-assignment via the bounded-heap aggregate: the corpus ×
      // centroid score scan reduces map-side to E6bAssign (list, csim)
      // pairs per vector — the old row_number window shuffled and sorted
      // every scored row WITH its embedding through the exchange; the
      // vector payload now re-attaches by key from the normed base.
      Relational.topKByScore(scoreAll(cent), Seq("vec_id"), col("csim"),
          col("c_list"), E6bAssign, "c_list", "csim")
        .join(normedBuckets(s, d)
          .select(col("vec_id"), col("embedding"), col("norm")), Seq("vec_id"))
        .select(col("vec_id"), col("embedding"), col("norm"), col("c_list")))
    (cent, idx)
  }

  /** e10's product-quantization codebooks and code table, materialized
    * once per corpus. Codebooks: for each of the PqM subspaces, the means
    * of the subvectors grouped by a deterministic 4-plane sign-LSH init
    * (= one k-means init step; no RNG, so the oracle regenerates the
    * identical codebooks). Codes: each vector's per-subspace nearest
    * centroid by squared L2, plus the reconstruction norm
    * sqrt(sum_j ||centroid_j||^2) the ADC cosine denominator needs.
    * The code table stores PqM 4-bit codes per vector — 32 bits vs 2048
    * for float32; production would pack them into one word, int elements
    * keep the column oracle-readable while preserving the scan shape.
    */
  private def pqTables(s: SparkSession, d: String) = {
    val key = InterStage.tableKey(d, "embeddings")
    def subRowsBase = (0 until PqM).map { j =>
      Tables.load(s, d, "embeddings").select(col("vec_id"),
        lit(j.toLong).as("sub_j"),
        slice(col("embedding"), j * PqSubDim + 1, PqSubDim).as("sv"))
    }.reduce(_.unionByName(_))
    // init_c feeds only the codebook grouping — the codes branch skips the
    // per-row hyperplane hashing entirely.
    def subRows = {
      val withInit = (0 until PqM).map { j =>
        Tables.load(s, d, "embeddings").select(col("vec_id"),
          lit(j.toLong).as("sub_j"),
          slice(col("embedding"), j * PqSubDim + 1, PqSubDim).as("sv"))
          .withColumn("init_c", VectorOps.lshBucket(col("sv"), pqPlaneTables(j)))
      }
      withInit.reduce(_.unionByName(_))
    }
    val cent = InterStage.materialize(s, key + s"|pqcent$PqCodeBits", {
      val aggs = count(lit(1)).as("cn") +: (0 until PqSubDim).map(i =>
        sum(element_at(col("sv"), i + 1).cast("double")).as(s"s$i"))
      subRows.groupBy(col("sub_j"), col("init_c")).agg(aggs.head, aggs.tail: _*)
        .select(col("sub_j"), col("init_c").as("c_code"),
          array((0 until PqSubDim).map(i => col(s"s$i") / col("cn")): _*).as("c_vec"))
        .withColumn("c_sq", VectorOps.dotD(col("c_vec"), col("c_vec")))
    })
    val codes = InterStage.materialize(s, key + s"|pqcodes$PqCodeBits", {
      // The comparator drops the sv·sv term of the true squared-L2
      // distance: within one (vec_id, sub_j) group it is a constant shift,
      // so the min_by argmin (and the c_code tie-break) is unchanged —
      // the oracle's full-distance QUALIFY picks the identical code while
      // the scan evaluates one 8-dim dot per candidate instead of two.
      val scored = subRowsBase.join(broadcast(cent), Seq("sub_j"))
        .withColumn("dist",
          col("c_sq") - lit(2.0) * VectorOps.dotD(col("sv"), col("c_vec")))
      val best = Relational.top1PerGroup(scored,
        Seq(col("vec_id"), col("sub_j")), struct(col("dist"), col("c_code")))
      best.groupBy(col("vec_id"))
        .agg(sort_array(collect_list(
          struct(col("sub_j"), col("c_code"), col("c_sq")))).as("bs"))
        .select(col("vec_id"),
          transform(col("bs"), x => x.getField("c_code").cast("int")).as("codes"),
          sqrt(aggregate(transform(col("bs"), x => x.getField("c_sq")),
            lit(0.0), (a, v) => a + v)).as("rnorm"))
    })
    (cent, codes)
  }

  /** Per-probe PQ lookup table: for each probe, the dots of its PqM
    * subvectors against every codebook centroid, flattened into one
    * PqM*PqKs-slot array in (sub_j, c_code) order so LutSumF can index it
    * as j*PqKs+code. Built over a dense grid so empty init buckets still
    * occupy their slot (they read 0.0 and no stored code references
    * them). O(PqM*PqKs) work per probe, independent of the corpus.
    * Shared by the flat PQ scan (e10) and the IVFPQ composition (e12).
    */
  private def pqProbeLut(s: SparkSession, d: String): org.apache.spark.sql.DataFrame =
    InterStage.materialize(s,
      InterStage.tableKey(d, "embeddings") + s"|pqlut$PqCodeBits:$ProbeCount",
      pqProbeLutPlan(s, d))

  private def pqProbeLutPlan(s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val (cent, _) = pqTables(s, d)
    val grid = s.range(PqM.toLong * PqKs).select(
      (col("id") / PqKs).cast("long").as("sub_j"),
      (col("id") % PqKs).as("c_code"))
    val gcent = grid.join(
      broadcast(cent.select(col("sub_j"), col("c_code"), col("c_vec"))),
      Seq("sub_j", "c_code"), "left")
    val probes = Tables.load(s, d, "embeddings").where(probeFilter(s, d))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
        VectorOps.l2Norm(col("embedding")).as("q_norm"))
    probes.crossJoin(broadcast(gcent))
      .withColumn("part", coalesce(VectorOps.dotD(
        slice(col("q_vec"), (col("sub_j") * PqSubDim + 1).cast("int"),
          lit(PqSubDim)), col("c_vec")), lit(0.0)))
      .groupBy(col("q_id"))
      .agg(first(col("q_vec")).as("q_vec"), first(col("q_norm")).as("q_norm"),
        sort_array(collect_list(
          struct(col("sub_j"), col("c_code"), col("part")))).as("ps"))
      .select(col("q_id"), col("q_vec"), col("q_norm"),
        transform(col("ps"), x => x.getField("part")).as("lut"))
  }

  /** Cosine near-dup pairs (sim >= 0.4) — the e3 LSH candidate + verify
    * pipeline (see the e3 gate comment for the three scale moves). Factored
    * out so the pair set can be materialized once per corpus and shared by
    * the pair gate (e3) and the semantic-dedup clustering (e8) — the same
    * two-consumer InterStage composition the SimHash chain uses
    * (simhashPairs feeding d5 and the CC labels).
    */
  private def cosPairsPlan(s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val b = normedBuckets(s, d)
    val planes = adaptivePlanes(b.count())
    val masks = pairMasks(planes, flipRadius(planes))
    val bmask = lit((1L << planes) - 1)
    def candIds(bcol: String) = {
      val mb = b.select(col("vec_id"), col(bcol).bitwiseAND(bmask).as("mb"))
      val probes = mb.select(col("vec_id").as("q_id"),
        explode(array(masks.map(m =>
          col("mb").bitwiseXOR(lit(m))): _*)).as("mb"))
      probes.join(mb, Seq("mb"))
        .where(col("q_id") < col("vec_id"))
        .select(col("q_id").as("id1"), col("vec_id").as("id2"))
    }
    val cand = candIds("bucket")
      .unionByName(candIds("bucket2"))
      .unionByName(candIds("bucket3"))
    val v = b.select(col("vec_id"), col("embedding"), col("norm"))
    cand.join(v.as("x"), col("id1") === col("x.vec_id"))
      .join(v.as("y"), col("id2") === col("y.vec_id"))
      .select(col("id1").as("vec_id_1"), col("id2").as("vec_id_2"),
        (VectorOps.dotD(col("x.embedding"), col("y.embedding")) /
          (col("x.norm") * col("y.norm"))).as("sim"))
      .where(col("sim") >= 0.4)
      .distinct()
  }

  private def cosPairs(s: SparkSession, d: String): org.apache.spark.sql.DataFrame =
    InterStage.materialize(s, InterStage.tableKey(d, "embeddings") + "|cospairs04",
      cosPairsPlan(s, d))

  /** The un-materialized pair pipeline, the `cos_pairs_live` row of `Probe
    * scale` and `Probe query`: the gates read the shared table, and this
    * keeps the LSH pipeline's own scaling separately tracked (as ccLabelsLive
    * does for the iterative CC).
    */
  def cosPairsLive(s: SparkSession, d: String): org.apache.spark.sql.DataFrame =
    cosPairsPlan(s, d)

  /** Semantic-cluster labels (vec_id, cluster_id) — connected components
    * over the cosine near-dup pair graph, materialized once per corpus and
    * consumed by the e8 prune (and any downstream per-cluster policy).
    * This is the SemDeDup pipeline shape: embedding-space near-duplicate
    * groups collapse to one kept representative, catching paraphrases and
    * re-encodings that token-level dedup (the d-chain) cannot see.
    */
  private def semLabelTable(s: SparkSession, d: String): org.apache.spark.sql.DataFrame =
    InterStage.materialize(s, InterStage.tableKey(d, "embeddings") + "|semlabels04",
      Graph.connectedComponents(
        Tables.load(s, d, "embeddings").select("vec_id"), "vec_id",
        cosPairs(s, d), col("vec_id_1"), col("vec_id_2")))

  /** DuckDB CTE chain reproducing cosPairsPlan exactly: the three adaptive
    * LSH tables, the radius-limited mask set, the per-table bucket
    * equi-joins and the exact-cosine verify. `cpairs` is the shared pair
    * set (a, b, sim) with a < b — the e3 oracle projects it and the e8
    * oracle closes over it with a recursive CTE.
    */
  private def dCosPairCtes: String =
    s"b AS (SELECT vec_id, embedding, ${dBucket("embedding", planeInts)} bucket, " +
      s"${dBucket("embedding", planeInts2)} bucket2, " +
      s"${dBucket("embedding", planeInts3)} bucket3 FROM embeddings), " +
      s"par AS (SELECT $dPlanesCase p, $dRadiusCase r FROM embeddings), " +
      s"mk AS (SELECT m FROM unnest($dPairMasks) u(m), par WHERE bit_count(m::BIGINT) <= par.r), " +
      "mb AS (SELECT vec_id, bucket % (1 << par.p) b1, bucket2 % (1 << par.p) b2, " +
      "bucket3 % (1 << par.p) b3 FROM b, par), " +
      "cand AS (" +
      "SELECT p1.q_id, y.vec_id vid FROM (SELECT vec_id q_id, xor(b1, m) bb " +
      "FROM mb, mk) p1 JOIN mb y ON p1.bb = y.b1 AND p1.q_id < y.vec_id " +
      "UNION ALL SELECT p2.q_id, y.vec_id vid FROM (SELECT vec_id q_id, xor(b2, m) bb " +
      "FROM mb, mk) p2 JOIN mb y ON p2.bb = y.b2 AND p2.q_id < y.vec_id " +
      "UNION ALL SELECT p3.q_id, y.vec_id vid FROM (SELECT vec_id q_id, xor(b3, m) bb " +
      "FROM mb, mk) p3 JOIN mb y ON p3.bb = y.b3 AND p3.q_id < y.vec_id), " +
      s"cpairs AS (SELECT DISTINCT c.q_id a, c.vid b2, ${dCos("x.embedding", "y.embedding")} AS sim " +
      "FROM cand c JOIN b x ON c.q_id = x.vec_id JOIN b y ON c.vid = y.vec_id " +
      s"WHERE ${dCos("x.embedding", "y.embedding")} >= 0.4)"

  /** The composed IVFPQ index — PQ codes keyed by IVF list id, FAISS's
    * IndexIVFPQ storage layout and e12's candidate table. Materialize-once
    * like its two inputs; built in the warm phase so e12's first timed run
    * scans the index instead of building it.
    */
  private def ivfpqIndex(s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val (_, indexed) = ivfIndexTables(s, d)
    val (_, codes) = pqTables(s, d)
    InterStage.materialize(s,
      InterStage.tableKey(d, "embeddings") +
        s"|ivfpqidx$E6bLloydIters:$E6bAssign:$PqCodeBits",
      indexed.select(col("vec_id"), col("c_list")).join(codes, Seq("vec_id")))
  }

  /** Build the inter-stage tables the vector queries share (see
    * TextQueries.warmInterStage for why Bench calls this up front).
    */
  def warmInterStage(s: SparkSession, d: String): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // The PQ branch reads the RAW embeddings table, not the shared normed
    // base — launch it before anything else so its serial two-build chain
    // (codebooks -> codes, the phase's longest branch) overlaps the base
    // build instead of queueing behind it (r21: pqcent/pqcodes started
    // ~4 s late because the old ordering held every branch until the base
    // finished). The probe LUT chains after the codes: e10/e12 read it
    // every run, so it is index state, built here like the rest.
    // Each nested future re-tags its (possibly recycled EC) thread with
    // the vectors pool: local properties are per-thread, and without the
    // tag these sub-builds would land in the default pool and compete
    // with the text chains' pools at default weight anyway — harmless,
    // but the UI/fairness accounting is truthful this way.
    def pooled(body: => Unit): Future[Unit] =
      Future { graft.Sessions.inPool(s, "vectors")(body) }
    val fPq = pooled { pqTables(s, d); () }
    val fLut = fPq.flatMap { _ => pooled { pqProbeLut(s, d); () } }
    // The shared base next, alone on this thread (every remaining branch
    // reads it — building it once beats four threads racing to duplicate
    // the write), then the independent branches as concurrent Spark jobs:
    // this chain was the materialize phase's long pole (21.4 s sequential
    // of a ~21.7 s total; the branches overlap to ~the longest one).
    normedBuckets(s, d)
    val fLabel = pooled { labelIvfTables(s, d); () }
    val fIvf = pooled { ivfIndexTables(s, d); () }
    val fSem = pooled { semLabelTable(s, d); () }
    // The composed IVFPQ index (e12) reads BOTH the trained lists and the
    // PQ codes, so it chains after those two branches complete (a same-key
    // race in InterStage double-builds) while still overlapping fLabel and
    // fSem. Warmed here since r20: it used to materialize inside e12's
    // first timed run, the one index build warmInterStage didn't cover
    // (VERDICT r19 task 2).
    val fComposed =
      (for { _ <- fIvf; _ <- fPq } yield ()).flatMap(_ =>
        pooled { ivfpqIndex(s, d); () })
    Seq(fLabel, fIvf, fSem, fPq, fLut, fComposed)
      .foreach(Await.result(_, Duration.Inf))
  }

  /** Just the normed/bucketed/signed corpus table — what the sign-LSH
    * consumers (e2/e7/e7b) read. `Probe scale`'s only-mode warms this instead
    * of the full inter-stage set when the subset touches nothing else.
    */
  def warmSigChain(s: SparkSession, d: String): Unit = {
    normedBuckets(s, d)
    ()
  }

  /** The (vec_id, sig_lo, sig_hi) signature table — the base that
    * `sigWithTwins` extends for the e7b gates.
    */
  def sigTable(s: SparkSession, d: String): org.apache.spark.sql.DataFrame =
    normedBuckets(s, d).select(col("vec_id"), col("sig_lo"), col("sig_hi"))

  val all: Seq[(String, GQ)] = Seq(

    // E1 — brute-force cosine top-5 per probe (every 50th vector probes the
    // whole corpus). Probe side broadcasts; corpus side stays partitioned —
    // the exact-search baseline a 100 TB ANN path is measured against.
    "e1_knn_bruteforce" -> GQ(
      (s, d) => {
        val e = Tables.load(s, d, "embeddings")
        val probes = e.where(probeFilter(s, d))
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        VectorOps.knnBruteForce(probes, "q_id", "q_vec",
          e.repartition(s.sparkContext.defaultParallelism), "vec_id", "embedding", 5)
          .select(col("q_id"), col("vec_id").as("neighbor_id"), col("sim"))
      },
      "WITH p AS (SELECT vec_id q_id, embedding q_vec FROM embeddings " +
        "WHERE " + probeFilterSql + ") " +
        s"SELECT q_id, vec_id AS neighbor_id, ${dCos("q_vec", "embedding")} AS sim " +
        "FROM p JOIN embeddings e ON p.q_id != e.vec_id " +
        s"QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY " +
        s"${dCos("q_vec", "embedding")} DESC, vec_id) <= 5"),

    // E2 — sign-LSH bucketed top-5 KNN at corpus-adaptive width: the
    // stored MaxPlanes buckets mask down to adaptivePlanes(count) bits
    // (occupancy pinned at ~TargetOcc, so per-probe candidate work is
    // ~CONSTANT as the corpus grows — the ANN contract), probes multi-probe
    // every <=2-bit flip of their bucket in ALL THREE independent tables
    // (the d3-style recall OR — see probeMasks for the measured recall
    // numbers), candidates come from an equi-join on the bucket key
    // instead of a cross join; exact cosine re-ranks. Flips of planes
    // above the active width match nothing, so the full mask list is
    // corpus-independent. Within one table a (probe, candidate) pair
    // matches at most one mask, but the same pair can surface from two
    // tables, so the candidate id-pairs are distinct'd BEFORE the vector
    // fetch — the dedup shuffles 16-byte id pairs, never embeddings, and
    // a duplicate can't occupy two top-5 slots. Approximate by design,
    // and the oracle reproduces exactly that — including the width,
    // derived from count(*).
    "e2_knn_lsh" -> GQ(
      (s, d) => {
        // Probes and candidates both read the materialized bucketed corpus
        // — the hyperplane dots run once per vector per session.
        val e0 = normedBuckets(s, d)
        val planes = adaptivePlanes(e0.count())
        val bmask = lit((1L << planes) - 1)
        def candIds(bcol: String) = {
          val mb = e0.select(col("vec_id"), col(bcol).bitwiseAND(bmask).as("mb"))
          val probes = mb.where(probeFilter(s, d))
            .select(col("vec_id").as("q_id"),
              explode(array(probeMasks.map(m =>
                col("mb").bitwiseXOR(lit(m))): _*)).as("mb"))
          probes.join(mb, Seq("mb")).where(col("q_id") =!= col("vec_id"))
            .select(col("q_id"), col("vec_id"))
        }
        val cand = candIds("bucket")
          .unionByName(candIds("bucket2"))
          .unionByName(candIds("bucket3"))
          .distinct()
        val v = e0.select(col("vec_id"), col("embedding"), col("norm"))
        val scored = cand.join(v.as("q"), col("q_id") === col("q.vec_id"))
          .join(v.as("c"), cand("vec_id") === col("c.vec_id"))
          .select(col("q_id"), cand("vec_id"),
            (VectorOps.dotD(col("q.embedding"), col("c.embedding")) /
              (col("q.norm") * col("c.norm"))).as("sim"))
        // Bounded-heap top-5 over the verified candidates (SortKeyF codec)
        // instead of a full shuffle+sort row_number window.
        Relational.topKByScore(scored, Seq("q_id"), col("sim"),
          col("vec_id"), 5, "neighbor_id", "sim")
      },
      s"WITH par AS (SELECT $dPlanesCase p FROM embeddings), " +
        s"b AS (SELECT vec_id, embedding, ${dBucket("embedding", planeInts)} % (1 << par.p) bucket, " +
        s"${dBucket("embedding", planeInts2)} % (1 << par.p) bucket2, " +
        s"${dBucket("embedding", planeInts3)} % (1 << par.p) bucket3 FROM embeddings, par), " +
        s"mk AS (SELECT m FROM unnest($dPairMasks) u(m) WHERE bit_count(m::BIGINT) <= 2), " +
        "p AS (SELECT vec_id q_id, bucket, bucket2, bucket3 FROM b WHERE " + probeFilterSql + "), " +
        "cand AS (SELECT DISTINCT q_id, e.vec_id FROM (" +
        "SELECT q_id, xor(bucket, m) bb, 1 t FROM p, mk " +
        "UNION ALL SELECT q_id, xor(bucket2, m) bb, 2 t FROM p, mk " +
        "UNION ALL SELECT q_id, xor(bucket3, m) bb, 3 t FROM p, mk) pr " +
        "JOIN b e ON (CASE pr.t WHEN 1 THEN e.bucket WHEN 2 THEN e.bucket2 " +
        "ELSE e.bucket3 END) = pr.bb AND pr.q_id != e.vec_id) " +
        s"SELECT q_id, c.vec_id AS neighbor_id, ${dCos("q.embedding", "c.embedding")} AS sim " +
        "FROM cand JOIN b q ON cand.q_id = q.vec_id JOIN b c ON cand.vec_id = c.vec_id " +
        s"QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY " +
        s"${dCos("q.embedding", "c.embedding")} DESC, c.vec_id) <= 5"),

    // E3 — embedding-cosine near-dup pairs (sim >= 0.4) via CORPUS-SIZED
    // sign-LSH candidate generation + exact cosine verify. Three moves
    // make this the scale path:
    //   1. Adaptive width: buckets are masked to adaptivePlanes(count)
    //      bits, pinning mean occupancy at ~TargetOcc — candidate volume
    //      stays ~linear in the corpus instead of the measured ~90x-at-10x
    //      blowup of a fixed 64-bucket table (SCALE.md).
    //   2. Recall compensation: band-OR across THREE independent tables
    //      (as d3 ORs its MinHash bands) and a flip radius that widens with
    //      the plane count — per-table recall on threshold-boundary pairs
    //      drops as planes grow, and the OR re-amplifies it.
    //   3. Verify-inline-THEN-distinct: candidates are (id, id) pairs from
    //      a bucket equi-join per table (the bucket is the shuffle key at
    //      100 TB); the exact-cosine verify joins vectors and filters
    //      BEFORE the cross-table distinct, so the wide shuffle-dedup runs
    //      on the few qualifying pairs, never on the full candidate stream
    //      (the distinct-first form was the dominant cost at 10x).
    // Approximate by design — pairs outside the flip radius in ALL three
    // tables are unseen — the oracle reproduces exactly that candidate
    // set (sizing its tables from count(*) with the same integer
    // thresholds), and e3b is the exact brute-force baseline this path is
    // measured against (as e1 is to e2). The pair pipeline itself lives in
    // cosPairsPlan, materialized once per corpus and shared with the e8
    // semantic-dedup clustering; its un-materialized scaling stays tracked
    // as the cos_pairs_live row of `Probe scale`.
    "e3_cosine_neardup_pairs" -> GQ(
      (s, d) => cosPairs(s, d),
      s"WITH $dCosPairCtes " +
        "SELECT a AS vec_id_1, b2 AS vec_id_2, sim FROM cpairs"),

    // E8 — SemDeDup-style semantic corpus prune: connected components over
    // the cosine near-dup pair graph (the e3 LSH pipeline's output, shared
    // via the materialized pair table), each cluster collapsing to its
    // min-vec_id representative — the embedding-space analog of the
    // d6/d7 SimHash chain, catching paraphrases and re-encodings that
    // token-level dedup cannot see. The CC labels are themselves a
    // materialize-once InterStage table (the index build); the prune gate
    // pays one count aggregate + one equi-join, exactly the marginal cost
    // a production composition pays — and at 100 TB every stage keys its
    // shuffle on the bucket/pair/cluster id (candidate generation is the
    // e3 equi-join, CC is the d6 contraction design, the prune join
    // broadcasts the cluster table). The oracle recomputes the closure
    // with a recursive CTE over the exact same candidate pair set.
    "e8_semantic_prune" -> GQ(
      (s, d) => {
        val emb = Tables.load(s, d, "embeddings")
        val clusters = semLabelTable(s, d).groupBy(col("cluster_id"))
          .agg(count(lit(1)).as("n_members"))
        emb.join(clusters, emb("vec_id") === clusters("cluster_id"))
          .select(col("vec_id"), col("n_members"), col("label"))
      },
      s"WITH RECURSIVE $dCosPairCtes, " +
        "sym AS (SELECT a, b2 b FROM cpairs UNION SELECT b2, a FROM cpairs), " +
        "reach(n, m) AS (SELECT vec_id, vec_id FROM embeddings " +
        "UNION SELECT r.n, s.b FROM reach r JOIN sym s ON r.m = s.a), " +
        "lbl AS (SELECT n, min(m) AS cluster_id FROM reach GROUP BY n), " +
        "cl AS (SELECT cluster_id, count(*) AS n_members FROM lbl GROUP BY 1) " +
        "SELECT e.vec_id, cl.n_members, e.label " +
        "FROM embeddings e JOIN cl ON e.vec_id = cl.cluster_id"),

    // E11 — incremental semantic screen: the vector-side analog of d8 and
    // the batch form of VecStreams.semanticIngest. A new batch (the
    // vec_id % 13 slice) is checked for semantic near-duplicates
    // (cosine >= 0.4) against the HISTORICAL corpus before ingest:
    // candidates come from the same three-table adaptive sign-LSH
    // multiprobe as e3, but ONE-SIDED (fresh probes x history buckets) —
    // per-batch cost tracks the batch x bucket occupancy in history,
    // never a corpus rescan, and the bucket is the shuffle key. The LSH
    // width sizes from the HISTORY count (the index the screen probes);
    // approximate exactly as e3 is, and the oracle reproduces the same
    // candidate set one-sided.
    "e11_incremental_semantic" -> GQ(
      (s, d) => {
        val b = normedBuckets(s, d)
        val isFresh = pmod(col("vec_id"), lit(13L)) === 0
        val hist = b.where(!isFresh)
        val planes = adaptivePlanes(hist.count())
        val masks = pairMasks(planes, flipRadius(planes))
        val bmask = lit((1L << planes) - 1)
        val fresh = b.where(isFresh)
        def candIds(bcol: String) = {
          val probes = fresh.select(col("vec_id").as("q_id"),
            explode(array(masks.map(m =>
              col(bcol).bitwiseAND(bmask).bitwiseXOR(lit(m))): _*)).as("mb"))
          val hb = hist.select(col("vec_id"), col(bcol).bitwiseAND(bmask).as("mb"))
          probes.join(hb, Seq("mb"))
            .select(col("q_id"), col("vec_id").as("h_id"))
        }
        val cand = candIds("bucket")
          .unionByName(candIds("bucket2"))
          .unionByName(candIds("bucket3"))
        val v = b.select(col("vec_id"), col("embedding"), col("norm"))
        val dupIds = cand
          .join(v.as("x"), col("q_id") === col("x.vec_id"))
          .join(v.as("y"), col("h_id") === col("y.vec_id"))
          .where((VectorOps.dotD(col("x.embedding"), col("y.embedding")) /
            (col("x.norm") * col("y.norm"))) >= 0.4)
          .select(col("q_id").as("vec_id")).distinct()
          .withColumn("dup", lit(true))
        fresh.select(col("vec_id")).join(dupIds, Seq("vec_id"), "left")
          .select(col("vec_id"),
            coalesce(col("dup"), lit(false)).as("is_semdup_of_history"))
      },
      s"WITH b AS (SELECT vec_id, embedding, ${dBucket("embedding", planeInts)} bucket, " +
        s"${dBucket("embedding", planeInts2)} bucket2, " +
        s"${dBucket("embedding", planeInts3)} bucket3 FROM embeddings), " +
        s"par AS (SELECT $dPlanesCase p, $dRadiusCase r FROM embeddings WHERE vec_id % 13 != 0), " +
        s"mk AS (SELECT m FROM unnest($dPairMasks) u(m), par WHERE bit_count(m::BIGINT) <= par.r), " +
        "mf AS (SELECT vec_id, bucket % (1 << par.p) b1, bucket2 % (1 << par.p) b2, " +
        "bucket3 % (1 << par.p) b3 FROM b, par WHERE vec_id % 13 = 0), " +
        "mh AS (SELECT vec_id, bucket % (1 << par.p) b1, bucket2 % (1 << par.p) b2, " +
        "bucket3 % (1 << par.p) b3 FROM b, par WHERE vec_id % 13 != 0), " +
        "cand AS (" +
        "SELECT p1.q_id, y.vec_id h_id FROM (SELECT vec_id q_id, xor(b1, m) bb " +
        "FROM mf, mk) p1 JOIN mh y ON p1.bb = y.b1 " +
        "UNION ALL SELECT p2.q_id, y.vec_id h_id FROM (SELECT vec_id q_id, xor(b2, m) bb " +
        "FROM mf, mk) p2 JOIN mh y ON p2.bb = y.b2 " +
        "UNION ALL SELECT p3.q_id, y.vec_id h_id FROM (SELECT vec_id q_id, xor(b3, m) bb " +
        "FROM mf, mk) p3 JOIN mh y ON p3.bb = y.b3), " +
        s"dup AS (SELECT DISTINCT c.q_id FROM cand c " +
        "JOIN b x ON c.q_id = x.vec_id JOIN b y ON c.h_id = y.vec_id " +
        s"WHERE ${dCos("x.embedding", "y.embedding")} >= 0.4) " +
        "SELECT m.vec_id, d.q_id IS NOT NULL AS is_semdup_of_history " +
        "FROM mf m LEFT JOIN dup d ON m.vec_id = d.q_id"),

    // E3b — exact brute-force near-dup pairs: the correctness baseline the
    // e3 LSH path is measured against (recall = |e3| / |e3b| at the same
    // threshold). Deliberately O(n²/2): norms come precomputed from the
    // shared inter-stage table, the dot product is the codegen'd native
    // expression, and the pair join is a broadcast-nested-loop by design —
    // run it on samples at corpus scale, never on the full 100 TB.
    "e3b_cosine_neardup_exact" -> GQ(
      (s, d) => {
        val b = normedBuckets(s, d).select(
          col("vec_id"), col("embedding"), col("norm"))
        b.as("x").join(b.as("y"), col("x.vec_id") < col("y.vec_id"))
          .select(col("x.vec_id").as("vec_id_1"), col("y.vec_id").as("vec_id_2"),
            (VectorOps.dotD(col("x.embedding"), col("y.embedding")) /
              (col("x.norm") * col("y.norm"))).as("sim"))
          .where(col("sim") >= 0.4)
      },
      s"SELECT x.vec_id vec_id_1, y.vec_id vec_id_2, ${dCos("x.embedding", "y.embedding")} AS sim " +
        "FROM embeddings x JOIN embeddings y ON x.vec_id < y.vec_id " +
        s"WHERE ${dCos("x.embedding", "y.embedding")} >= 0.4"),

    // E5 — int8 quantization round-trip: per-element affine quantization
    // of [-1,1] floats to 0..255 codes and back, with per-vector
    // reconstruction error — the storage-compression pass of an embedding
    // pipeline (4x smaller vectors; exact integer codes so any engine
    // reproduces them). Both per-vector reductions are native codegen'd
    // one-pass loops (graft.functions.QuantizeF) — the HOF
    // transform/aggregate/zip_with form evaluates interpreted per element
    // — and the squared-error loop accumulates in exactly the oracle
    // fold's IEEE order.
    "e5_int8_quantize" -> GQ(
      (s, d) => {
        import graft.functions.QuantizeF
        Tables.load(s, d, "embeddings")
          .select(col("vec_id"),
            QuantizeF.quantCodeSum(col("embedding")).as("code_sum"),
            round(sqrt(QuantizeF.quantSqErr(col("embedding")) / 64.0), 9)
              .as("rmse"))
      },
      "WITH q AS (SELECT vec_id, embedding, list_transform(embedding, " +
        "x -> least(greatest(round((x::DOUBLE + 1.0) * 127.5, 0), 0.0), 255.0)::INT) codes " +
        "FROM embeddings) " +
        "SELECT vec_id, list_sum(codes)::BIGINT AS code_sum, " +
        "round(sqrt(list_reduce(list_transform(list_zip(embedding, codes), " +
        "z -> (z[1]::DOUBLE - (z[2]::DOUBLE / 127.5 - 1.0)) * " +
        "(z[1]::DOUBLE - (z[2]::DOUBLE / 127.5 - 1.0))), (a, v) -> a + v) / 64.0), 9) " +
        "AS rmse FROM q"),

    // E9 — ADC (asymmetric-distance) kNN over the int8-quantized corpus:
    // the memory-bandwidth scale path that makes e5's compression pay.
    // The index is a materialize-once table of code arrays + stored
    // dequant norms (4x fewer value bytes than float64 — at 100 TB a
    // brute scan is bandwidth-bound, so the quantized scan reads 4x less
    // and the probe side keeps full precision; FAISS's IndexScalarQuantizer
    // shape). The scan itself is the e1 plan — probes broadcast, corpus
    // partitioned — with the codegen'd AdcDotF dequant-dot in the hot
    // loop; approximation error is only the int8 rounding, so recall@5
    // vs e1 is near-exact (RecallSpec floors it with the other ANN paths).
    "e9_int8_adc_knn" -> GQ(
      (s, d) => {
        val codes = InterStage.materialize(s,
          InterStage.tableKey(d, "embeddings") + "|int8codes",
          Tables.load(s, d, "embeddings")
            .select(col("vec_id"),
              graft.functions.QuantizeF.quantCodes(col("embedding")).as("codes"))
            .withColumn("qnorm",
              sqrt(graft.functions.QuantizeF.adcSelfDot(col("codes")))))
        val probes = Tables.load(s, d, "embeddings").where(probeFilter(s, d))
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
            VectorOps.l2Norm(col("embedding")).as("q_norm"))
        val scored = codes
          .repartition(s.sparkContext.defaultParallelism)
          .join(broadcast(probes), col("q_id") =!= col("vec_id"))
          .withColumn("sim",
            graft.functions.QuantizeF.adcDot(col("codes"), col("q_vec")) /
              (col("q_norm") * col("qnorm")))
        // Bounded-heap top-5 (e7's pool shape, order-exact via the SortKeyF
        // codec): each map partition reduces its slice of the probes ×
        // corpus ADC scan to ≤ 5 pairs per probe before the exchange — the
        // old row_number window shuffled and sorted the whole scan.
        Relational.topKByScore(scored, Seq("q_id"), col("sim"),
          col("vec_id"), 5, "neighbor_id", "sim")
      },
      "WITH q AS (SELECT vec_id, list_transform(embedding, " +
        "x -> least(greatest(round((x::DOUBLE + 1.0) * 127.5, 0), 0.0), 255.0)::INT) codes " +
        "FROM embeddings), " +
        "qn AS (SELECT vec_id, codes, sqrt(list_reduce(list_transform(codes, " +
        "c -> (c::DOUBLE / 127.5 - 1.0) * (c::DOUBLE / 127.5 - 1.0)), (a, v) -> a + v)) qnorm " +
        "FROM q), " +
        "p AS (SELECT vec_id q_id, embedding q_vec, " +
        s"sqrt(${dDot("embedding", "embedding")}) q_norm FROM embeddings " +
        "WHERE " + probeFilterSql + ") " +
        "SELECT q_id, c.vec_id AS neighbor_id, " +
        "list_reduce(list_transform(list_zip(c.codes, q_vec), " +
        "z -> (z[1]::DOUBLE / 127.5 - 1.0) * z[2]::DOUBLE), (a, v) -> a + v) " +
        "/ (q_norm * qnorm) AS sim " +
        "FROM p JOIN qn c ON p.q_id != c.vec_id " +
        "QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY " +
        "list_reduce(list_transform(list_zip(c.codes, q_vec), " +
        "z -> (z[1]::DOUBLE / 127.5 - 1.0) * z[2]::DOUBLE), (a, v) -> a + v) " +
        "/ (q_norm * qnorm) DESC, c.vec_id) <= 5"),

    // E10 — product-quantization ADC kNN with exact re-rank: the 100 TB
    // memory path beyond scalar quantization. Each vector stores PqM=8
    // 8-bit codebook codes (64 bits vs 2048 — 32x); a probe precomputes
    // one flat LUT of its subvector dots against every codebook centroid
    // (PqM x PqKs = 128 doubles, O(1) per probe), and the corpus scan is
    // PqM table lookups per vector (the codegen'd lut_sum loop) instead
    // of a Dim-wide dot product. The top-PqRerank ADC candidates fetch
    // full vectors for exact cosine re-ranking (the IVFADC+refine split:
    // only pool-many vectors are ever touched at full precision per
    // probe). Codebooks and codes are materialize-once InterStage tables
    // (pqTables); the oracle regenerates both from the deterministic
    // LSH-init means and replays the same two-stage ranking.
    "e10_pq_adc_knn" -> GQ(
      (s, d) => {
        val (_, codes) = pqTables(s, d)
        val lut = pqProbeLut(s, d)
        // ADC pool via the bounded-heap aggregate (e7's pool shape): the
        // corpus-sized LUT scan reduces map-side to ≤ PqRerank ids per
        // probe; the old row_number window shuffled and sorted the whole
        // scan, carrying each probe's 2048-slot LUT through the exchange.
        // The pool needs only ids — the probe vector re-attaches from the
        // (broadcast) LUT table for the exact re-rank.
        val pool = Relational.topKByScore(
          codes.repartition(s.sparkContext.defaultParallelism)
            .crossJoin(broadcast(lut))
            .where(col("q_id") =!= col("vec_id"))
            .withColumn("adc",
              graft.functions.QuantizeF.lutSum(col("codes"), col("lut"), PqKs) /
                (col("q_norm") * col("rnorm"))),
          Seq("q_id"), col("adc"), col("vec_id"), PqRerank, "vec_id", "adc")
        val v = normedBuckets(s, d)
          .select(col("vec_id"), col("embedding"), col("norm"))
        val reranked = pool
          .select(col("q_id"), col("vec_id"))
          .join(broadcast(lut.select(col("q_id"), col("q_vec"), col("q_norm"))),
            Seq("q_id"))
          .join(v, "vec_id")
          .withColumn("sim", VectorOps.dotD(col("q_vec"), col("embedding")) /
            (col("q_norm") * col("norm")))
        Relational.topKByScore(reranked, Seq("q_id"), col("sim"),
          col("vec_id"), 5, "neighbor_id", "sim")
      },
      {
        val sums = (0 until PqSubDim).map(i => s", sum(sv[${i + 1}]::DOUBLE) s$i").mkString
        val mean = (0 until PqSubDim).map(i => s"s$i / cn").mkString(", ")
        val initCase = (0 until PqM).map(j =>
          s"WHEN sub_j = $j THEN ${dBucket("sv", pqPlaneTables(j))}")
          .mkString("CASE ", " ", " END")
        s"WITH sub AS (SELECT vec_id, u.j sub_j, " +
          s"embedding[u.j*$PqSubDim+1 : u.j*$PqSubDim+$PqSubDim] sv " +
          s"FROM embeddings, unnest(range(0, $PqM)) u(j)), " +
          s"init AS (SELECT vec_id, sub_j, sv, ($initCase) init_c FROM sub), " +
          s"st AS (SELECT sub_j, init_c c_code, count(*) cn$sums FROM init GROUP BY 1, 2), " +
          s"cent AS (SELECT sub_j, c_code, [$mean] c_vec FROM st), " +
          s"centq AS (SELECT sub_j, c_code, c_vec, ${dDot("c_vec", "c_vec")} c_sq FROM cent), " +
          s"scored AS (SELECT i.vec_id, i.sub_j, c.c_code, c.c_sq, " +
          s"${dDot("i.sv", "i.sv")} - 2.0 * ${dDot("i.sv", "c.c_vec")} + c.c_sq dist " +
          "FROM init i JOIN centq c ON i.sub_j = c.sub_j), " +
          "best AS (SELECT vec_id, sub_j, c_code, c_sq FROM scored " +
          "QUALIFY row_number() OVER (PARTITION BY vec_id, sub_j ORDER BY dist, c_code) = 1), " +
          "codes AS (SELECT vec_id, array_agg(c_code ORDER BY sub_j) codes, " +
          "sqrt(list_reduce(array_agg(c_sq ORDER BY sub_j), (a, v) -> a + v)) rnorm " +
          "FROM best GROUP BY vec_id), " +
          s"grid AS (SELECT g.i // $PqKs sub_j, g.i % $PqKs c_code " +
          s"FROM unnest(range(0, ${PqM * PqKs})) g(i)), " +
          "probes AS (SELECT vec_id q_id, embedding q_vec, " +
          s"sqrt(${dDot("embedding", "embedding")}) q_norm FROM embeddings " +
          "WHERE " + probeFilterSql + "), " +
          "lutrows AS (SELECT p.q_id, p.q_norm, p.q_vec, gr.sub_j, gr.c_code, " +
          s"coalesce(${dDot(s"p.q_vec[gr.sub_j*$PqSubDim+1 : gr.sub_j*$PqSubDim+$PqSubDim]", "c.c_vec")}, 0.0) part " +
          "FROM probes p CROSS JOIN grid gr " +
          "LEFT JOIN centq c ON gr.sub_j = c.sub_j AND gr.c_code = c.c_code), " +
          "lut AS (SELECT q_id, q_norm, q_vec, array_agg(part ORDER BY sub_j, c_code) lut " +
          "FROM lutrows GROUP BY q_id, q_norm, q_vec), " +
          s"pool AS (SELECT l.q_id, l.q_vec, c.vec_id, " +
          s"list_reduce(list_transform(range(0, $PqM), " +
          s"j -> l.lut[j * $PqKs + c.codes[j + 1] + 1]), (a, v) -> a + v) " +
          "/ (l.q_norm * c.rnorm) adc " +
          "FROM lut l, codes c WHERE l.q_id != c.vec_id " +
          "QUALIFY row_number() OVER (PARTITION BY l.q_id " +
          s"ORDER BY adc DESC, c.vec_id) <= $PqRerank) " +
          s"SELECT p.q_id, p.vec_id AS neighbor_id, ${dCos("p.q_vec", "e.embedding")} AS sim " +
          "FROM pool p JOIN embeddings e ON p.vec_id = e.vec_id " +
          "QUALIFY row_number() OVER (PARTITION BY p.q_id " +
          s"ORDER BY ${dCos("p.q_vec", "e.embedding")} DESC, p.vec_id) <= 5"
      }),

    // E12 — IVFPQ: the canonical 100 TB ANN layout, composing the trained
    // inverted lists (e6b) with the PQ codes (e10) — codes stored IN the
    // lists, exactly FAISS's IndexIVFPQ. A probe touches nprobe of ~sqrt(n)
    // lists; each candidate costs PqM table lookups (the codegen'd
    // lut_sum), never a full-width dot; the top-PqRerank ADC pool fetches
    // full vectors for exact re-ranking. Per-probe work is
    // nprobe * n/nlists * PqM lookups + PqRerank dots — the product of
    // the two scale paths' savings, and the list id stays the shuffle
    // key. All three inputs (lists, codebooks, codes) are the SAME
    // materialize-once tables their standalone gates use; the composed
    // index (codes keyed by list) materializes once more. The oracle
    // regenerates the full stack — Lloyd-trained lists, codebooks, codes,
    // per-probe LUTs — and replays the two-stage ranking.
    "e12_ivfpq_knn" -> GQ(
      (s, d) => {
        val (cent, _) = ivfIndexTables(s, d)
        val idx = ivfpqIndex(s, d)
        val scoredProbes = normedBuckets(s, d).where(probeFilter(s, d))
          .select(col("vec_id"), col("embedding"), col("norm"))
          .crossJoin(broadcast(cent))
          .withColumn("csim", VectorOps.dotD(col("embedding"), col("c_vec")) /
            (col("norm") * col("c_norm")))
        val probeLists = Relational.topKPerGroup(scoredProbes,
            Seq(col("vec_id")), Seq(col("csim").desc, col("c_list")), E6bNprobe)
          .select(col("vec_id").as("q_id"), col("c_list"))
        val lut = pqProbeLut(s, d)
        val cand = probeLists.join(broadcast(lut), Seq("q_id"))
          .join(idx, Seq("c_list"))
          .where(col("q_id") =!= col("vec_id"))
          .select(col("q_id"), col("vec_id"),
            (graft.functions.QuantizeF.lutSum(col("codes"), col("lut"), PqKs) /
              (col("q_norm") * col("rnorm"))).as("adc"))
        // ADC pool + final top-5 via the bounded-heap aggregate (e7's pool
        // shape, order-exact SortKeyF codec) — map-side reduction instead
        // of shuffling and sorting the whole candidate stream per window.
        // Multi-assigned vectors surface once per shared list with a
        // BIT-IDENTICAL adc (same codes, same LUT, same arithmetic) —
        // dedupIds folds the old `.distinct()` into the heap itself,
        // removing the full-candidate-stream exchange + two hash
        // aggregates the distinct cost (VERDICT r21 item 5).
        val pool = Relational.topKByScore(cand, Seq("q_id"), col("adc"),
          col("vec_id"), PqRerank, "vec_id", "adc", dedupIds = true)
        val v = normedBuckets(s, d)
          .select(col("vec_id"), col("embedding"), col("norm"))
        val reranked = pool
          .join(lut.select(col("q_id"), col("q_vec"), col("q_norm")), Seq("q_id"))
          .join(v, Seq("vec_id"))
          .withColumn("sim", VectorOps.dotD(col("q_vec"), col("embedding")) /
            (col("q_norm") * col("norm")))
        Relational.topKByScore(reranked, Seq("q_id"), col("sim"),
          col("vec_id"), 5, "neighbor_id", "sim")
      },
      {
        // IVF side (prefixed iv*): e6b's Lloyd-trained lists, regenerated
        val sums64 = (0 until Dim).map(i => s", sum(embedding[${i + 1}]::DOUBLE) s$i").mkString
        val mean64 = (0 until Dim).map(i => s"s$i / cn").mkString(", ")
        val ivIters = (1 to E6bLloydIters).map { i =>
          val src = if (i == 1) "ivb" else s"iva${i - 1}"
          s"ivst$i AS (SELECT c_list, count(*) cn$sums64 FROM $src GROUP BY c_list), " +
            s"ivce$i AS (SELECT c_list, [$mean64] c_vec FROM ivst$i), " +
            s"ivsc$i AS (SELECT e.vec_id, e.embedding, c.c_list, " +
            s"${dDot("e.embedding", "c.c_vec")} / (sqrt(${dDot("e.embedding", "e.embedding")}) * " +
            s"sqrt(${dDot("c.c_vec", "c.c_vec")})) csim FROM embeddings e, ivce$i c), " +
            s"iva$i AS (SELECT vec_id, embedding, c_list FROM ivsc$i " +
            "QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, c_list) = 1)"
        }.mkString(", ")
        val ivLast = s"ivsc$E6bLloydIters"
        // PQ side (prefixed pq*): e10's codebooks, codes and per-probe LUTs
        val sums8 = (0 until PqSubDim).map(i => s", sum(sv[${i + 1}]::DOUBLE) s$i").mkString
        val mean8 = (0 until PqSubDim).map(i => s"s$i / cn").mkString(", ")
        val initCase = (0 until PqM).map(j =>
          s"WHEN sub_j = $j THEN ${dBucket("sv", pqPlaneTables(j))}")
          .mkString("CASE ", " ", " END")
        s"WITH ivpar AS (SELECT $dIvfPlanesCase p FROM embeddings), " +
          s"ivb AS (SELECT vec_id, embedding, ${dBucket("embedding", planeInts)} % (1 << ivpar.p) c_list " +
          "FROM embeddings, ivpar), " + ivIters + ", " +
          s"ividx AS (SELECT vec_id, c_list FROM $ivLast " +
          s"QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, c_list) <= $E6bAssign), " +
          s"ivprobes AS (SELECT vec_id q_id, c_list FROM $ivLast " +
          "WHERE " + probeFilterSql + " " +
          s"QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, c_list) <= $E6bNprobe), " +
          s"pqsub AS (SELECT vec_id, u.j sub_j, " +
          s"embedding[u.j*$PqSubDim+1 : u.j*$PqSubDim+$PqSubDim] sv " +
          s"FROM embeddings, unnest(range(0, $PqM)) u(j)), " +
          s"pqinit AS (SELECT vec_id, sub_j, sv, ($initCase) init_c FROM pqsub), " +
          s"pqst AS (SELECT sub_j, init_c c_code, count(*) cn$sums8 FROM pqinit GROUP BY 1, 2), " +
          s"pqcent AS (SELECT sub_j, c_code, [$mean8] c_vec FROM pqst), " +
          s"pqcentq AS (SELECT sub_j, c_code, c_vec, ${dDot("c_vec", "c_vec")} c_sq FROM pqcent), " +
          s"pqscored AS (SELECT i.vec_id, i.sub_j, c.c_code, c.c_sq, " +
          s"${dDot("i.sv", "i.sv")} - 2.0 * ${dDot("i.sv", "c.c_vec")} + c.c_sq dist " +
          "FROM pqinit i JOIN pqcentq c ON i.sub_j = c.sub_j), " +
          "pqbest AS (SELECT vec_id, sub_j, c_code, c_sq FROM pqscored " +
          "QUALIFY row_number() OVER (PARTITION BY vec_id, sub_j ORDER BY dist, c_code) = 1), " +
          "pqcodes AS (SELECT vec_id, array_agg(c_code ORDER BY sub_j) codes, " +
          "sqrt(list_reduce(array_agg(c_sq ORDER BY sub_j), (a, v) -> a + v)) rnorm " +
          "FROM pqbest GROUP BY vec_id), " +
          s"pqgrid AS (SELECT g.i // $PqKs sub_j, g.i % $PqKs c_code " +
          s"FROM unnest(range(0, ${PqM * PqKs})) g(i)), " +
          "pqprobes AS (SELECT vec_id q_id, embedding q_vec, " +
          s"sqrt(${dDot("embedding", "embedding")}) q_norm FROM embeddings " +
          "WHERE " + probeFilterSql + "), " +
          "pqlutrows AS (SELECT p.q_id, p.q_norm, p.q_vec, gr.sub_j, gr.c_code, " +
          s"coalesce(${dDot(s"p.q_vec[gr.sub_j*$PqSubDim+1 : gr.sub_j*$PqSubDim+$PqSubDim]", "c.c_vec")}, 0.0) part " +
          "FROM pqprobes p CROSS JOIN pqgrid gr " +
          "LEFT JOIN pqcentq c ON gr.sub_j = c.sub_j AND gr.c_code = c.c_code), " +
          "pqlut AS (SELECT q_id, q_norm, q_vec, array_agg(part ORDER BY sub_j, c_code) lut " +
          "FROM pqlutrows GROUP BY q_id, q_norm, q_vec), " +
          "cand AS (SELECT DISTINCT p.q_id, i.vec_id, " +
          s"list_reduce(list_transform(range(0, $PqM), " +
          s"j -> l.lut[j * $PqKs + c.codes[j + 1] + 1]), (a, v) -> a + v) " +
          "/ (l.q_norm * c.rnorm) adc " +
          "FROM ivprobes p JOIN ividx i ON p.c_list = i.c_list " +
          "JOIN pqlut l ON l.q_id = p.q_id " +
          "JOIN pqcodes c ON c.vec_id = i.vec_id WHERE p.q_id != i.vec_id), " +
          "pool AS (SELECT q_id, vec_id, adc FROM cand " +
          "QUALIFY row_number() OVER (PARTITION BY q_id " +
          s"ORDER BY adc DESC, vec_id) <= $PqRerank) " +
          s"SELECT p.q_id, p.vec_id AS neighbor_id, ${dCos("l.q_vec", "e.embedding")} AS sim " +
          "FROM pool p JOIN pqlut l ON p.q_id = l.q_id " +
          "JOIN embeddings e ON p.vec_id = e.vec_id " +
          "QUALIFY row_number() OVER (PARTITION BY p.q_id " +
          s"ORDER BY ${dCos("l.q_vec", "e.embedding")} DESC, p.vec_id) <= 5"
      }),

    // E6 — IVF (inverted-file) ANN search, the classic two-level scale
    // path: a coarse quantizer (per-label mean centroids — the e4 build
    // step) partitions the corpus into inverted lists keyed by nearest
    // centroid; probes search only their E6Nprobe nearest lists and exact
    // cosine re-ranks. At 100 TB the inverted list id is the partition
    // key: candidate generation is an equi-join on c_label instead of a
    // cross join, and each probe touches nprobe/nlists of the corpus.
    // The centroids and the corpus-wide nearest-centroid assignment (a
    // min_by hash aggregate, map-side partials — not a window sort over
    // corpus × nlists rows) are materialize-once InterStage tables
    // (labelIvfTables): the index builds once per corpus, queries
    // amortize it — and nothing is pinned in the block cache.
    "e6_ivf_knn" -> GQ(
      (s, d) => {
        val (cent, assigned) = labelIvfTables(s, d)
        // Query side: only the PROBES score against the broadcast
        // centroids (the dot is the native codegen'd expression — float
        // embedding against double centroid, same IEEE sequence as the
        // interpreted fold); the corpus-wide assignment reads from the
        // materialized index — the build/query split.
        val scoredProbes = normedBuckets(s, d).where(probeFilter(s, d))
          .select(col("vec_id"), col("embedding"), col("norm"))
          .crossJoin(broadcast(cent))
          .withColumn("csim", VectorOps.dotD(col("embedding"), col("c_vec")) /
            (col("norm") * col("c_norm")))
        val probes = Relational.topKPerGroup(scoredProbes,
            Seq(col("vec_id")), Seq(col("csim").desc, col("c_label")), E6Nprobe)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
            col("norm").as("q_norm"), col("c_label"))
        val cand = probes.join(assigned, "c_label")
          .where(col("q_id") =!= col("vec_id"))
          .withColumn("sim", VectorOps.dotD(col("q_vec"), col("embedding")) /
            (col("q_norm") * col("norm")))
        // Bounded-heap top-5 over the probed lists' candidates (SortKeyF
        // codec) — map-side reduction instead of the window's full sort.
        Relational.topKByScore(cand, Seq("q_id"), col("sim"),
          col("vec_id"), 5, "neighbor_id", "sim")
      },
      "WITH s AS (SELECT label, count(*) cn" +
        (0 until Dim).map(i => s", sum(embedding[${i + 1}]::DOUBLE) s$i").mkString +
        " FROM embeddings GROUP BY label), " +
        "cent AS (SELECT label c_label, [" +
        (0 until Dim).map(i => s"s$i / cn").mkString(", ") + "] c_vec FROM s), " +
        "scored AS (SELECT e.vec_id, e.embedding, c.c_label, " +
        s"${dDot("e.embedding", "c.c_vec")} / (sqrt(${dDot("e.embedding", "e.embedding")}) * " +
        s"sqrt(${dDot("c.c_vec", "c.c_vec")})) csim FROM embeddings e, cent c), " +
        "assigned AS (SELECT vec_id, embedding, c_label FROM scored " +
        "QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, c_label) = 1), " +
        "probes AS (SELECT vec_id q_id, embedding q_vec, c_label FROM scored " +
        "WHERE " + probeFilterSql + " " +
        s"QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, c_label) <= $E6Nprobe) " +
        s"SELECT q_id, a.vec_id AS neighbor_id, ${dCos("q_vec", "a.embedding")} AS sim " +
        "FROM probes p JOIN assigned a ON p.c_label = a.c_label AND p.q_id != a.vec_id " +
        "QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY " +
        s"${dCos("q_vec", "a.embedding")} DESC, a.vec_id) <= 5"),

    // E6b — corpus-adaptive IVF: same two-level search as e6, but the
    // coarse quantizer is TRAINED from the data at a corpus-scaled list
    // count instead of the 10 semantic labels (whose inverted lists grow
    // linearly with the corpus — the same fixed-fanout saturation e3's
    // planes had). Centroids = E6bLloydIters Lloyd passes (assign +
    // re-mean) from a deterministic LSH-bucket-mean initialization — no
    // RNG; the centroid double-sums carry the usual cross-engine last-ulp
    // summation-order noise, which only surfaces if two lists' csim for
    // one vector tie at that scale — csim steers assignment only, never a
    // value in the output, and like e6's it has held bit-stable across
    // every gate run. The INDEX side replicates each vector into its
    // top-E6bAssign lists (multi-assignment) — see the knob scaladocs for
    // the measured recall@5 ladder (0.18 -> 0.85 on the base corpus);
    // nlists = 2^ivfPlanes(n) ~ sqrt(n) tracks the corpus at the classic
    // IVF balance point: per-vector assignment cost (nlists) and
    // per-probe list length (n/nlists) both grow as sqrt(n) — pinning
    // occupancy instead would make the n x nlists assignment quadratic.
    // Assignment is the standard k-means assign (broadcast centroids,
    // map-side min_by hash aggregate); candidate generation is an
    // equi-join on the list id — the partition key at 100 TB.
    "e6b_ivf_adaptive" -> GQ(
      (s, d) => {
        val (cent, indexed) = ivfIndexTables(s, d)
        // Query side: score only the PROBES against the materialized
        // centroids (a probe-count x nlists broadcast product — O(1) rows
        // as the corpus grows), take their top-nprobe lists, equi-join the
        // materialized inverted index on the list id. The corpus-wide
        // Lloyd training and index assignment happened once in
        // ivfIndexTables — the production build/query split.
        val scoredProbes = normedBuckets(s, d).where(probeFilter(s, d))
          .select(col("vec_id"), col("embedding"), col("norm"))
          .crossJoin(broadcast(cent))
          .withColumn("csim", VectorOps.dotD(col("embedding"), col("c_vec")) /
            (col("norm") * col("c_norm")))
        val probes = Relational.topKPerGroup(scoredProbes,
            Seq(col("vec_id")), Seq(col("csim").desc, col("c_list")), E6bNprobe)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
            col("norm").as("q_norm"), col("c_list"))
        val cand = probes.join(indexed, "c_list")
          .where(col("q_id") =!= col("vec_id"))
          .select(col("q_id"), col("vec_id"),
            (VectorOps.dotD(col("q_vec"), col("embedding")) /
              (col("q_norm") * col("norm"))).as("sim"))
        // Bounded-heap top-5 with in-heap dedup (SortKeyF codec) instead
        // of `.distinct()` + heap: a vector multi-assigned to E6bAssign
        // lists surfaces once per shared probed list with a BIT-IDENTICAL
        // sim (same q_vec, embedding, norms), so rejecting exact duplicate
        // pairs inside the heap equals the distinct — without shuffling
        // the whole candidate stream through the distinct's exchange.
        Relational.topKByScore(cand, Seq("q_id"), col("sim"),
          col("vec_id"), 5, "neighbor_id", "sim", dedupIds = true)
      },
      {
        val sums = (0 until Dim).map(i => s", sum(embedding[${i + 1}]::DOUBLE) s$i").mkString
        val mean = (0 until Dim).map(i => s"s$i / cn").mkString(", ")
        // One CTE triple (means -> score -> assign) per Lloyd pass; pass 1
        // groups the LSH init buckets, pass i groups pass i-1's assignment.
        val iters = (1 to E6bLloydIters).map { i =>
          val src = if (i == 1) "b" else s"a${i - 1}"
          s"st$i AS (SELECT c_list, count(*) cn$sums FROM $src GROUP BY c_list), " +
            s"ce$i AS (SELECT c_list, [$mean] c_vec FROM st$i), " +
            s"sc$i AS (SELECT e.vec_id, e.embedding, c.c_list, " +
            s"${dDot("e.embedding", "c.c_vec")} / (sqrt(${dDot("e.embedding", "e.embedding")}) * " +
            s"sqrt(${dDot("c.c_vec", "c.c_vec")})) csim FROM embeddings e, ce$i c), " +
            s"a$i AS (SELECT vec_id, embedding, c_list FROM sc$i " +
            "QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, c_list) = 1)"
        }.mkString(", ")
        val last = s"sc$E6bLloydIters"
        s"WITH par AS (SELECT $dIvfPlanesCase p FROM embeddings), " +
          s"b AS (SELECT vec_id, embedding, ${dBucket("embedding", planeInts)} % (1 << par.p) c_list " +
          "FROM embeddings, par), " + iters + ", " +
          s"idx AS (SELECT vec_id, embedding, c_list FROM $last " +
          s"QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, c_list) <= $E6bAssign), " +
          s"probes AS (SELECT vec_id q_id, embedding q_vec, c_list FROM $last " +
          "WHERE " + probeFilterSql + " " +
          s"QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, c_list) <= $E6bNprobe), " +
          s"cand AS (SELECT DISTINCT q_id, a.vec_id, ${dCos("q_vec", "a.embedding")} sim " +
          "FROM probes p JOIN idx a ON p.c_list = a.c_list AND p.q_id != a.vec_id) " +
          "SELECT q_id, vec_id AS neighbor_id, sim FROM cand " +
          "QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) <= 5"
      }),

    // E7 — binary sign-sketch ANN: compress each 64-dim float vector to 64
    // sign bits packed in two 32-bit words (256 bytes -> 8: the binary-
    // quantization storage path), scan signatures with xor+popcount hamming
    // (no float math), keep the E7RerankPool least-hamming candidates per
    // probe, and exact-cosine re-rank those down to the final top 5. At
    // 100 TB the signature table is ~32x smaller than the vectors — the
    // hamming scan streams it at memory bandwidth while the float vectors
    // are only fetched for the pool survivors (here via a self-join on the
    // candidate ids). sim uses the full vectors, so the output is exact
    // cosine over an approximate (hamming top-pool) candidate set; the
    // oracle reproduces the same set bit-for-bit (ties break on vec_id).
    "e7_binary_sign_ann" -> GQ(
      (s, d) => {
        // Signatures come precomputed from the shared inter-stage table —
        // the hamming scan below reads (vec_id, sig_lo, sig_hi) only, so
        // the parquet reader streams ~16 bytes a row, never the vectors.
        val sigs = normedBuckets(s, d)
          .select(col("vec_id"), col("embedding"), col("norm"),
            col("sig_lo"), col("sig_hi"))
        val sigOnly = sigs.select(col("vec_id"), col("sig_lo"), col("sig_hi"))
        val probes = sigOnly.where(probeFilter(s, d))
          .select(col("vec_id").as("q_id"), col("sig_lo").as("q_lo"),
            col("sig_hi").as("q_hi"))
        val ham = sigOnly.crossJoin(broadcast(probes))
          .where(col("q_id") =!= col("vec_id"))
          .select(col("q_id"), col("vec_id"),
            (bit_count(col("q_lo").bitwiseXOR(col("sig_lo"))) +
              bit_count(col("q_hi").bitwiseXOR(col("sig_hi"))))
              .cast("long").as("hamming"))
        // bounded-heap top-k aggregate, not a window: every map partition
        // reduces its slice of the corpus-sized hamming scan to <= pool
        // pairs per probe before the shuffle (a row_number window would
        // shuffle and sort the whole scan — probes x corpus rows)
        val top = ham.groupBy(col("q_id"))
          .agg(graft.functions.TopKPairAgg.topkPairs(
            col("hamming"), col("vec_id"), E7RerankPool).as("top"))
          .select(col("q_id"), explode(col("top")).as("p"))
          .select(col("q_id"), col("p.id").as("vec_id"),
            col("p.ord").as("hamming"))
        val v = sigs.select(col("vec_id"), col("embedding"), col("norm"))
        val scored = top.join(v.as("q"), col("q_id") === col("q.vec_id"))
          .join(v.as("c"), top("vec_id") === col("c.vec_id"))
          .select(col("q_id"), top("vec_id").as("neighbor_id"), col("hamming"),
            (VectorOps.dotD(col("q.embedding"), col("c.embedding")) /
              (col("q.norm") * col("c.norm"))).as("sim"))
        Relational.topKPerGroup(scored, Seq(col("q_id")),
          Seq(col("sim").desc, col("neighbor_id")), 5)
      },
      "WITH sig AS (SELECT vec_id, embedding, " +
        (0 until 32).map(i =>
          s"(CASE WHEN embedding[${i + 1}] > 0 THEN ${1L << i} ELSE 0 END)")
          .mkString("(", " + ", ") sig_lo, ") +
        (0 until 32).map(i =>
          s"(CASE WHEN embedding[${32 + i + 1}] > 0 THEN ${1L << i} ELSE 0 END)")
          .mkString("(", " + ", ") sig_hi FROM embeddings), ") +
        "p AS (SELECT vec_id q_id, sig_lo q_lo, sig_hi q_hi FROM sig " +
        "WHERE " + probeFilterSql + "), " +
        "top AS (SELECT q_id, vec_id, bit_count(xor(q_lo, sig_lo)) + " +
        "bit_count(xor(q_hi, sig_hi)) AS hamming FROM p JOIN sig " +
        "ON p.q_id != sig.vec_id " +
        "QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY " +
        s"bit_count(xor(q_lo, sig_lo)) + bit_count(xor(q_hi, sig_hi)), vec_id) <= $E7RerankPool) " +
        s"SELECT q_id, t.vec_id AS neighbor_id, t.hamming::BIGINT AS hamming, " +
        s"${dCos("q.embedding", "c.embedding")} AS sim " +
        "FROM top t JOIN sig q ON t.q_id = q.vec_id JOIN sig c ON t.vec_id = c.vec_id " +
        "QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY " +
        s"${dCos("q.embedding", "c.embedding")} DESC, t.vec_id) <= 5"),

    // E7b — all-pairs binary near-dup over the sign signatures: the
    // corpus x corpus companion to e7's probe-set scan. Candidates come
    // from the pigeonhole band equi-join over the two sig words
    // (VectorOps.bandedHammingPairs — d5's trick on binary embeddings),
    // exact xor+popcount hamming verifies inline, distinct runs on
    // qualifying pairs. The gate runs at E7bMaxHamming = 20 because this
    // corpus' closest signature pair sits at hamming 14 (a hamming-8 gate
    // would compare empty sets) — the APPROXIMATE regime, where the band
    // join is a recall filter by contract. The band layout is therefore
    // the occupancy-adaptive ladder (`VectorOps.adaptiveSignBands`): a
    // fixed layout's candidate volume grows ~n²/2^(w+1) per band — the
    // measured 24× blow-up at the 100× probe — while stepping to fewer,
    // WIDER bands as the corpus grows keeps per-bucket occupancy (and so
    // candidate volume) near-linear. The oracle reproduces the SAME
    // selection as a CASE over count(*) on the mirrored integer
    // thresholds, then the same band-OR + verify semantics. The COMPLETE
    // regime (threshold <= bands-1) keeps an explicit 9-band layout —
    // that's e7b_complete below.
    "e7b_binary_banded_neardup" -> GQ(
      (s, d) => {
        val sig = normedBuckets(s, d)
          .select(col("vec_id"), col("sig_lo"), col("sig_hi"))
        VectorOps.bandedHammingPairs(sig, "vec_id", "sig_lo", "sig_hi",
          E7bMaxHamming, VectorOps.adaptiveSignBands(sig.count()))
      },
      "WITH sig AS (SELECT vec_id, " +
        (0 until 32).map(i =>
          s"(CASE WHEN embedding[${i + 1}] > 0 THEN ${1L << i} ELSE 0 END)")
          .mkString("(", " + ", ") sig_lo, ") +
        (0 until 32).map(i =>
          s"(CASE WHEN embedding[${32 + i + 1}] > 0 THEN ${1L << i} ELSE 0 END)")
          .mkString("(", " + ", ") sig_hi FROM embeddings), ") +
        "n AS (SELECT count(*) AS c FROM sig) " +
        "SELECT x.vec_id vec_id_1, y.vec_id vec_id_2, " +
        "(bit_count(xor(x.sig_lo, y.sig_lo)) + bit_count(xor(x.sig_hi, y.sig_hi)))::BIGINT AS hamming " +
        "FROM sig x JOIN sig y ON x.vec_id < y.vec_id, n " +
        "WHERE bit_count(xor(x.sig_lo, y.sig_lo)) + bit_count(xor(x.sig_hi, y.sig_hi)) " +
        s"<= $E7bMaxHamming AND " + dAdaptiveBandPred),

    // E7b tier gates — the coarser layouts of the adaptive ladder,
    // oracle-checked at gate scale. The production ladder only selects
    // signBands6/signBands4 past 65k/262k vectors, where a DuckDB n²
    // cross-check is infeasible; these gates FORCE each coarser layout on
    // the gate corpus, so the exact band-OR + verify semantics the
    // 100x/300x probes run are hash-checked too (the selection ladder
    // itself is unit-pinned and mirrored in the adaptive gate's CASE).
    // The gate corpus' natural in-band pair yield is tiny at coarse
    // layouts (wider bands = stronger recall filter), so each tier unions
    // in e7b_complete's hamming-3 perturbed twins — guaranteed band-
    // sharing pairs that make the gate discriminative, not a 1-row match.
    "e7b_tier6_banded_neardup" -> GQ(
      (s, d) => VectorOps.bandedHammingPairs(sigWithTwins(s, d),
        "vec_id", "sig_lo", "sig_hi", E7bMaxHamming, VectorOps.signBands6),
      dSigTwinCtes +
        "SELECT x.vec_id vec_id_1, y.vec_id vec_id_2, " +
        "(bit_count(xor(x.sig_lo, y.sig_lo)) + bit_count(xor(x.sig_hi, y.sig_hi)))::BIGINT AS hamming " +
        "FROM u x JOIN u y ON x.vec_id < y.vec_id " +
        "WHERE bit_count(xor(x.sig_lo, y.sig_lo)) + bit_count(xor(x.sig_hi, y.sig_hi)) " +
        s"<= $E7bMaxHamming AND " + dBandOr(VectorOps.signBands6)),

    "e7b_tier4_banded_neardup" -> GQ(
      (s, d) => VectorOps.bandedHammingPairs(sigWithTwins(s, d),
        "vec_id", "sig_lo", "sig_hi", E7bMaxHamming, VectorOps.signBands4),
      dSigTwinCtes +
        "SELECT x.vec_id vec_id_1, y.vec_id vec_id_2, " +
        "(bit_count(xor(x.sig_lo, y.sig_lo)) + bit_count(xor(x.sig_hi, y.sig_hi)))::BIGINT AS hamming " +
        "FROM u x JOIN u y ON x.vec_id < y.vec_id " +
        "WHERE bit_count(xor(x.sig_lo, y.sig_lo)) + bit_count(xor(x.sig_hi, y.sig_hi)) " +
        s"<= $E7bMaxHamming AND " + dBandOr(VectorOps.signBands4)),

    // E7b-complete — the COMPLETE regime of the banded near-dup, oracle-
    // checked. The corpus' closest signature pair sits at hamming 14, so
    // at the production threshold (<= 8, where 9 bands are pigeonhole-
    // complete) the corpus alone yields the empty set; this gate therefore
    // unions in perturbed twins — every 25th vector re-enters with 3
    // sig_lo bits flipped (a deterministic id-derived mask) under the
    // bijective negative id -vec_id-1 — creating genuine hamming-3 pairs.
    // The ORACLE IS THE BRUTE-FORCE PAIR SCAN with no band condition:
    // equality of the band equi-join against it is precisely the
    // completeness claim (any pair within hamming 8 shares an untouched
    // band), checked end-to-end rather than argued.
    "e7b_complete" -> GQ(
      (s, d) => VectorOps.bandedHammingPairs(sigWithTwins(s, d),
        "vec_id", "sig_lo", "sig_hi", 8),
      dSigTwinCtes +
        "SELECT x.vec_id vec_id_1, y.vec_id vec_id_2, " +
        "(bit_count(xor(x.sig_lo, y.sig_lo)) + bit_count(xor(x.sig_hi, y.sig_hi)))::BIGINT AS hamming " +
        "FROM u x JOIN u y ON x.vec_id < y.vec_id " +
        "WHERE bit_count(xor(x.sig_lo, y.sig_lo)) + bit_count(xor(x.sig_hi, y.sig_hi)) <= 8"),

    // E4 — per-label centroids: element-wise mean via 64 per-dimension
    // aggregates (partial aggregation map-side; the IVF coarse-quantizer
    // build step). Cross-engine double-sum order differs, so derived values
    // are rounded to 6 places for the compare.
    "e4_label_centroids" -> GQ(
      (s, d) => {
        val e = Tables.load(s, d, "embeddings")
        val aggs = count(lit(1)).as("n") +: (0 until 64).map(i =>
          sum(element_at(col("embedding"), i + 1).cast("double")).as(s"s$i"))
        val norm2 = (0 until 64).map(i => (col(s"s$i") / col("n")) * (col(s"s$i") / col("n")))
          .reduce(_ + _)
        e.groupBy(col("label")).agg(aggs.head, aggs.tail: _*)
          .select(col("label"), col("n"),
            round(col("s0") / col("n"), 6).as("centroid_d0"),
            round(col("s63") / col("n"), 6).as("centroid_d63"),
            round(sqrt(norm2), 6).as("centroid_norm"))
      },
      "WITH s AS (SELECT label, count(*) n" +
        (0 until 64).map(i =>
          s", sum(embedding[${i + 1}]::DOUBLE) s$i").mkString +
        " FROM embeddings GROUP BY label) " +
        "SELECT label, n, round(s0 / n, 6) AS centroid_d0, " +
        "round(s63 / n, 6) AS centroid_d63, " +
        "round(sqrt(" + (0 until 64).map(i => s"(s$i / n) * (s$i / n)").mkString(" + ") +
        "), 6) AS centroid_norm FROM s"))
}
