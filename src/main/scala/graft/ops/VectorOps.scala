package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding-similarity primitives: cosine/dot-product over `array<float>`
  * columns, brute-force k-NN, and random-hyperplane LSH bucketing as the
  * scale path. Pure Column composition (codegen'd; no UDFs).
  *
  * Float elements are cast to double before any arithmetic and summed with
  * a left fold, so the result is a deterministic IEEE-754 sequence that the
  * DuckDB oracle reproduces bit-for-bit.
  */
object VectorOps {

  /** Dot product of two float vectors in double precision, left-to-right
    * accumulation — the native codegen'd expression (graft.functions
    * .DotProductF). Its loop emits the exact IEEE sequence of a 0.0-seeded
    * left fold, so results are bit-identical to the composable HOF form
    * `aggregate(zip_with(...))` (kept below for dynamically-typed vectors)
    * and to the DuckDB oracle's `list_reduce`.
    */
  def dotD(a: Column, b: Column): Column = graft.functions.GraftFunctions.dot_f(a, b)

  /** Composable fold form — HOFs evaluate interpreted; prefer dotD in hot
    * paths. Bit-identical results.
    */
  def dotFold(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def l2Norm(a: Column): Column = sqrt(dotD(a, a))

  def cosine(a: Column, b: Column): Column = dotD(a, b) / (l2Norm(a) * l2Norm(b))

  /** Deterministic pseudo-random hyperplanes for sign-LSH, derived from
    * sha2("<salt>p|d") so any engine can regenerate them. Component values
    * are integers in [0, 2000000] that both engines map to [-1, 1] with one
    * exact double division — planes are identical everywhere. A non-empty
    * `salt` yields an independent table (for band-OR recall amplification).
    */
  def hyperplaneInts(planes: Int, dim: Int, salt: String = ""): Seq[Seq[Long]] = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    (0 until planes).map { p =>
      (0 until dim).map { d =>
        val hex = md.digest(s"$salt$p|$d".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(15)
        java.lang.Long.parseLong(hex, 16) % 2000001L
      }
    }
  }

  /** Plane-vector dot against a LITERAL double-array plane, via the native
    * dot expression. The earlier unrolled form (64 `element_at` × multiply
    * × add nodes per plane) was bit-identical but built a ~12k-node
    * expression tree across the 48 planes of the shared bucket projection
    * — Catalyst optimization passes and codegen compilation over that tree
    * cost ~10 s per session before a single row moved. One literal-array
    * dot node per plane planifies in milliseconds and JITs as a tight
    * primitive loop. Same left-fold IEEE sequence (`0.0 + p0 == p0`), and
    * the plane components fold to the same doubles Catalyst produced
    * (`m / 1000000.0 - 1.0` in one double division), so bucket ids are
    * unchanged bit-for-bit.
    */
  private def planeDot(v: Column, ints: Seq[Long]): Column =
    dotD(v, lit(ints.map(m => m / 1000000.0 - 1.0).toArray))

  /** Sign-LSH bucket id: bit `p` set iff `dot(plane_p, v) > 0`. Vectors
    * with high cosine similarity agree on most signs, so near-duplicates
    * collide in the same bucket with high probability. The bucket id is a
    * shuffle key: candidate generation becomes an equi-join instead of a
    * cross join — the O(n²) -> O(n) scale path.
    */
  def lshBucket(v: Column, planes: Seq[Seq[Long]]): Column =
    planes.zipWithIndex.map { case (ints, p) =>
      when(planeDot(v, ints) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Pigeonhole band layout for the 64-bit binary sign signature (stored
    * as two non-negative 32-bit words): 9 disjoint bands — 8 of 7 bits, 1
    * of 8 — covering all 64 bits. Any pair within hamming distance 8 has
    * at least one band its differing bits never touch (pigeonhole), so
    * candidates from a (band_idx, band_value) equi-join are COMPLETE for
    * hamming <= 8. `(offset, width)` over the concatenated lo|hi bits.
    */
  val signBands: Seq[(Int, Int)] = Seq(
    (0, 7), (7, 7), (14, 7), (21, 7), (28, 7), (35, 7), (42, 7), (49, 7), (56, 8))

  /** Coarser pigeonhole layouts for the APPROXIMATE regime (thresholds
    * above bands-1, where the band join is a recall filter by contract):
    * 6 bands (complete <= 5) and 4 bands (complete <= 3). Fewer, WIDER
    * bands shrink per-bucket occupancy exponentially in the width — the
    * candidate volume of a self-join is sum over bands of n^2/2^(w+1), so
    * at fixed layout it grows QUADRATICALLY with the corpus; widening
    * bands as n grows is what keeps it near-linear (e3's occupancy-pinning
    * trick applied to the sign bands).
    */
  val signBands6: Seq[(Int, Int)] = Seq(
    (0, 11), (11, 11), (22, 11), (33, 11), (44, 10), (54, 10))
  val signBands4: Seq[(Int, Int)] = Seq(
    (0, 16), (16, 16), (32, 16), (48, 16))

  /** The adaptive selection ladder, exposed so the oracle SQL generator
    * mirrors the SAME integer thresholds (a CASE over count(*)) the Scala
    * side dispatches on — one source of truth for both engines.
    */
  val adaptiveSignBandSteps: Seq[(Long, Seq[(Int, Int)])] = Seq(
    65536L -> signBands, 262144L -> signBands6)

  /** Occupancy-adaptive band layout for approximate-regime near-dup: keep
    * the 9-band layout (highest recall, hamming-8 complete) while expected
    * bucket occupancy n/2^7 stays moderate, then step to 6x~11-bit and
    * 4x16-bit bands. Integer thresholds so any engine reproduces the
    * selection from a row count. COMPLETE-regime callers (threshold <= 8)
    * must pass `signBands` explicitly — completeness needs all 9 bands.
    */
  def adaptiveSignBands(n: Long): Seq[(Int, Int)] =
    adaptiveSignBandSteps.find(n <= _._1).map(_._2).getOrElse(signBands4)

  /** Band `(off, w)` of the signature as a column — assembled from the two
    * sign words (both non-negative, so plain shiftright is a logical
    * shift). One band spans the word boundary; its low part comes from the
    * top of `lo`, its high part from the bottom of `hi`.
    */
  def signBand(lo: Column, hi: Column, off: Int, w: Int): Column =
    if (off + w <= 32) shiftright(lo, off).bitwiseAND(lit((1L << w) - 1))
    else if (off >= 32) shiftright(hi, off - 32).bitwiseAND(lit((1L << w) - 1))
    else {
      val loBits = 32 - off
      shiftright(lo, off).bitwiseAND(lit((1L << loBits) - 1)) +
        hi.bitwiseAND(lit((1L << (w - loBits)) - 1)) * lit(1L << loBits)
    }

  /** All-pairs binary near-duplicates by signature hamming distance, via
    * the pigeonhole band join (d5's 9-band trick applied to the two sign
    * words): each signature explodes to 9 (band_idx, band_value) rows, a
    * self equi-join on that composite key generates candidates — the band
    * key is the shuffle/partition key at 100 TB, so candidate volume is
    * occupancy-bounded, never the n^2 of a pair scan — and the exact
    * xor+popcount hamming filter verifies inline (signatures ride the
    * join; no second fetch). A pair sharing several bands appears several
    * times; the final distinct runs on qualifying pairs only.
    *
    * COMPLETE (identical to a brute-force pair scan) iff
    * `maxHamming <= bands0.size - 1` (8 for the default 9-band layout);
    * above that the band join is a recall filter (pairs whose differing
    * bits touch every band are unseen) — the approximate-by-design
    * contract of every LSH pass here. Approximate-regime callers should
    * pass `adaptiveSignBands(n)`: a FIXED layout's candidate volume grows
    * quadratically with the corpus (each band contributes ~n^2/2^(w+1)
    * same-bucket pairs), which is exactly the 100x blow-up the round-9
    * probe measured; occupancy-adaptive widths keep it near-linear. The
    * scale knob for wider COMPLETE thresholds is a LONGER signature (e.g.
    * 128-bit sigs -> 9 bands of 14 bits), not more/narrower bands, which
    * would shrink the band space and saturate occupancy.
    *
    * @param sigs  one row per item: an id column and two sign words
    * @return (id_1, id_2, hamming), id_1 < id_2, hamming <= maxHamming
    */
  def bandedHammingPairs(sigs: DataFrame, idCol: String,
                         loCol: String, hiCol: String,
                         maxHamming: Int,
                         bands0: Seq[(Int, Int)] = signBands): DataFrame = {
    val bands = sigs.select(col(idCol), col(loCol), col(hiCol),
      explode(array(bands0.zipWithIndex.map { case ((off, w), i) =>
        struct(lit(i).as("bidx"),
          signBand(col(loCol), col(hiCol), off, w).as("bval"))
      }: _*)).as("b"))
      .select(col(idCol), col(loCol), col(hiCol),
        col("b.bidx").as("bidx"), col("b.bval").as("bval"))
    val ham = (bit_count(col(s"x.$loCol").bitwiseXOR(col(s"y.$loCol"))) +
      bit_count(col(s"x.$hiCol").bitwiseXOR(col(s"y.$hiCol")))).cast("long")
    bands.as("x").join(bands.as("y"),
        col("x.bidx") === col("y.bidx") && col("x.bval") === col("y.bval") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as(s"${idCol}_1"), col(s"y.$idCol").as(s"${idCol}_2"),
        ham.as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Brute-force top-k cosine neighbors of each probe vector against the
    * whole corpus: broadcast the (small) probe set against the corpus scan,
    * then keep the top k per probe. At 100 TB the corpus side stays
    * partitioned; only probes replicate. Ties break on corpus id.
    * Norms are hoisted per vector (computed n times, not n·m times) —
    * the per-vector value is the identical IEEE computation, so hoisting
    * doesn't change any result.
    *
    * The top-k itself is the bounded-heap aggregate
    * (Relational.topKByScore) when the corpus id is a Long: each map
    * partition reduces its corpus slice to ≤ k pairs per probe before the
    * exchange, where the old row_number window shuffled and sorted the
    * full probes × corpus scan. Non-Long ids keep the window form, behind
    * the same NaN/null guard, so a zero-norm vector fails loudly on both.
    * Output: (probeId, corpusId, sim).
    */
  def knnBruteForce(probes: DataFrame, probeId: String, probeVec: String,
                    corpus: DataFrame, corpusId: String, corpusVec: String,
                    k: Int): DataFrame = {
    val p = probes.withColumn("__pnorm", l2Norm(col(probeVec)))
    val c = corpus.withColumn("__cnorm", l2Norm(col(corpusVec)))
    val joined = c.join(broadcast(p), col(probeId) =!= col(corpusId))
      .withColumn("sim",
        dotD(col(probeVec), col(corpusVec)) / (col("__pnorm") * col("__cnorm")))
    val idIsLong = corpus.schema(corpusId).dataType ==
      org.apache.spark.sql.types.LongType
    if (idIsLong)
      Relational.topKByScore(joined, Seq(probeId), col("sim"), col(corpusId),
        k, corpusId, "sim")
    else
      Relational.topKPerGroup(
          joined.withColumn("sim", Relational.nanNullGuard(col("sim"),
            "knnBruteForce: NaN/null similarity — the window top-k would rank " +
              "it silently (zero-norm or NaN-valued embedding upstream?)")),
          Seq(col(probeId)), Seq(col("sim").desc, col(corpusId)), k)
        .select(col(probeId), col(corpusId), col("sim"))
  }
}
