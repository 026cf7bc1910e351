package graft

import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.VectorOps
import graft.queries.VectorQueries

class VectorOpsSpec extends SparkSpec {
  import spark.implicits._

  test("cosine: self-similarity 1, orthogonal 0, opposite -1") {
    val df = Seq(
      (Seq(1f, 0f), Seq(1f, 0f), 1.0),
      (Seq(1f, 0f), Seq(0f, 1f), 0.0),
      (Seq(1f, 0f), Seq(-1f, 0f), -1.0)).toDF("a", "b", "expect")
    val bad = df.where(abs(VectorOps.cosine(col("a"), col("b")) - col("expect")) > 1e-12)
    assert(bad.count() == 0)
  }

  test("knnBruteForce finds the planted nearest neighbor") {
    val corpus = Seq(
      (1L, Seq(1f, 0f, 0f)), (2L, Seq(0.9f, 0.1f, 0f)),
      (3L, Seq(0f, 1f, 0f)), (4L, Seq(0f, 0f, 1f))).toDF("vec_id", "embedding")
    val probes = corpus.where(col("vec_id") === 1)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val out = VectorOps.knnBruteForce(probes, "q_id", "q_vec",
      corpus, "vec_id", "embedding", 1)
    assert(out.select("vec_id").as[Long].head() == 2L)
  }

  test("knnBruteForce raises on a zero-norm vector on both id paths") {
    // cosine = dot / (|p|·|c|) is 0/0 at a zero-norm corpus vector: ANSI
    // mode raises DIVIDE_BY_ZERO, legacy mode yields a null similarity,
    // which the non-Long window path used to rank silently. Both id types
    // must fail loudly in both modes.
    val corpus = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 0f)), (3L, Seq(0f, 1f)))
      .toDF("vec_id", "embedding")
    val probes = corpus.where(col("vec_id") === 1)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val prior = spark.conf.getOption("spark.sql.ansi.enabled")
    try for (ansi <- Seq("true", "false"); stringIds <- Seq(false, true)) {
      spark.conf.set("spark.sql.ansi.enabled", ansi)
      val (p, c) =
        if (stringIds) (probes.withColumn("q_id", col("q_id").cast("string")),
          corpus.withColumn("vec_id", col("vec_id").cast("string")))
        else (probes, corpus)
      val e = intercept[Exception] {
        VectorOps.knnBruteForce(p, "q_id", "q_vec", c, "vec_id", "embedding", 2).collect()
      }
      if (ansi == "false")
        assert(e.getMessage.contains("NaN/null"), s"stringIds=$stringIds: ${e.getMessage}")
    } finally prior.fold(spark.conf.unset("spark.sql.ansi.enabled"))(
      spark.conf.set("spark.sql.ansi.enabled", _))
  }

  test("lshBucket: deterministic, and identical vectors share a bucket") {
    val planes = VectorQueries.planeInts
    val e = Tables.load(spark, Sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"),
        VectorOps.lshBucket(col("embedding"), planes).as("bucket"))
    val twice = Tables.load(spark, Sf0001, "embeddings")
      .select(col("vec_id"), VectorOps.lshBucket(col("embedding"), planes).as("bucket2"))
    assert(e.join(twice, "vec_id").where(col("bucket") =!= col("bucket2")).count() == 0)
    assert(e.select("bucket").distinct().count() > 1) // hash actually spreads
  }

  test("LSH knn recall vs brute force is non-trivial on real embeddings") {
    val e = Tables.load(spark, Sf0001, "embeddings")
    val probes = e.where(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val truth = VectorOps.knnBruteForce(probes, "q_id", "q_vec", e, "vec_id", "embedding", 5)
      .select(col("q_id"), col("vec_id")).as[(Long, Long)].collect().toSet

    // e2's fixed-width prefix of table 1: the probe masks span Planes bits
    val planes = VectorQueries.planeInts.take(VectorQueries.Planes)
    val bucketed = e.withColumn("bucket", VectorOps.lshBucket(col("embedding"), planes))
    val p = bucketed.where(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
        explode(array(VectorQueries.probeMasks.map(m =>
          col("bucket").bitwiseXOR(lit(m))): _*)).as("bucket"))
    val cand = p.join(bucketed, Seq("bucket")).where(col("q_id") =!= col("vec_id"))
      .withColumn("sim", VectorOps.cosine(col("q_vec"), col("embedding")))
    val approx = graft.ops.Relational.topKPerGroup(cand, Seq(col("q_id")),
      Seq(col("sim").desc, col("vec_id")), 5)
      .select(col("q_id"), col("vec_id")).as[(Long, Long)].collect().toSet

    val recall = (truth intersect approx).size.toDouble / truth.size
    assert(recall >= 0.2, s"recall=$recall — LSH candidates should catch some true neighbors")
    // and the approximate path examines far fewer pairs than brute force
    assert(cand.count() < e.count() * probes.count())
  }

  test("bandedHammingPairs is complete vs brute force in the hamming <= 8 regime") {
    // deterministic synthetic signatures + planted near-pairs at hamming
    // 3 (well inside), 8 (the pigeonhole boundary) and 9 (just outside)
    val rnd = new scala.util.Random(42)
    def word() = rnd.nextInt().toLong & 0xffffffffL
    val base = (0L until 60L).map(i => (i, word(), word()))
    def flip(sig: (Long, Long, Long), id: Long, bits: Seq[Int]) = {
      val (_, lo, hi) = sig
      val (fl, fh) = bits.partition(_ < 32)
      (id, fl.foldLeft(lo)((w, b) => w ^ (1L << b)),
        fh.foldLeft(hi)((w, b) => w ^ (1L << (b - 32))))
    }
    val rows = base ++ Seq(
      flip(base(0), 1000L, Seq(1, 13, 40)),                          // hamming 3
      flip(base(1), 1001L, Seq(0, 7, 14, 21, 28, 35, 42, 49)),       // hamming 8
      flip(base(2), 1002L, Seq(0, 7, 14, 21, 28, 35, 42, 49, 56)))   // hamming 9
    val df = rows.toDF("vec_id", "sig_lo", "sig_hi")
    val banded = VectorOps.bandedHammingPairs(df, "vec_id", "sig_lo", "sig_hi", 8)
      .as[(Long, Long, Long)].collect().toSet
    val ham = (bit_count(col("x.sig_lo").bitwiseXOR(col("y.sig_lo"))) +
      bit_count(col("x.sig_hi").bitwiseXOR(col("y.sig_hi")))).cast("long")
    val brute = df.as("x").join(df.as("y"), col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id"), col("y.vec_id"), ham.as("h"))
      .where(col("h") <= 8)
      .as[(Long, Long, Long)].collect().toSet
    assert(banded == brute) // pigeonhole: identical to the O(n^2) scan
    assert(banded.contains((0L, 1000L, 3L)))
    assert(banded.contains((1L, 1001L, 8L)))
    assert(!banded.exists(p => p._1 == 2L && p._2 == 1002L)) // 9 > 8
  }

  test("adaptive sizing functions: exact integer thresholds and bounds") {
    import graft.queries.VectorQueries._
    // occupancy-pinned LSH width: boundary-exact at TargetOcc * 2^p
    assert(adaptivePlanes(1) == MinPlanes)
    assert(adaptivePlanes(TargetOcc << MinPlanes) == MinPlanes)        // 1024 -> 6
    assert(adaptivePlanes((TargetOcc << MinPlanes) + 1) == MinPlanes + 1)
    assert(adaptivePlanes(500) == 6 && adaptivePlanes(2000) == 7)
    assert(adaptivePlanes(20000) == 11)
    assert(adaptivePlanes(Long.MaxValue) == MaxPlanes)                 // clamped
    // monotone non-decreasing across the whole range
    val widths = (0 to 24).map(e => adaptivePlanes(1L << e))
    assert(widths == widths.sorted)
    // sqrt-ish IVF width: 4^p boundaries
    assert(ivfPlanes(1) == MinIvfPlanes)
    assert(ivfPlanes(1L << (2 * MinIvfPlanes)) == MinIvfPlanes)        // 64 -> 3
    assert(ivfPlanes((1L << (2 * MinIvfPlanes)) + 1) == MinIvfPlanes + 1)
    assert(ivfPlanes(500) == 5 && ivfPlanes(2000) == 6 && ivfPlanes(20000) == 8)
    assert(ivfPlanes(Long.MaxValue) == MaxPlanes)
    // flip radius switches exactly at RadiusSwitch planes
    assert(flipRadius(RadiusSwitch - 1) == 2 && flipRadius(RadiusSwitch) == 3)
    // mask count: sum of C(planes, k) for k <= radius
    def choose(n: Int, k: Int): Long =
      (1 to k).foldLeft(1L)((a, i) => a * (n - i + 1) / i)
    assert(pairMasks(11, 3).size == (0 to 3).map(choose(11, _)).sum)
    assert(pairMasks(6, 2).size == (0 to 2).map(choose(6, _)).sum)
    assert(pairMasks(6, 2).forall(m => m < 64 && java.lang.Long.bitCount(m) <= 2))
  }

  test("every sign-band layout reassembles the full 64-bit signature losslessly") {
    // each layout's bands are disjoint and cover all 64 bits: re-shifting
    // each band back to its offset must reproduce the original two words —
    // including the adaptive ladder's coarser 6- and 4-band layouts (the
    // word-boundary-spanning assembly path differs per layout)
    val rnd = new scala.util.Random(7)
    val rows = (0 until 200).map(i =>
      (i.toLong, rnd.nextInt().toLong & 0xffffffffL, rnd.nextInt().toLong & 0xffffffffL))
      .toDF("vec_id", "sig_lo", "sig_hi")
    for (bands <- Seq(VectorOps.signBands, VectorOps.signBands6, VectorOps.signBands4)) {
      assert(bands.map(_._2).sum == 64)
      // disjoint + contiguous coverage: offsets sorted, each starts where
      // the previous ended
      assert(bands.sortBy(_._1).foldLeft(0) { case (at, (off, w)) =>
        assert(off == at, s"band at $off, expected $at"); off + w
      } == 64)
      val bandCols = bands.zipWithIndex.map { case ((off, w), i) =>
        VectorOps.signBand(col("sig_lo"), col("sig_hi"), off, w).as(s"b$i")
      }
      rows.select(col("sig_lo") +: col("sig_hi") +: bandCols: _*).collect()
        .foreach { r =>
          val full = BigInt(r.getLong(0)) | (BigInt(r.getLong(1)) << 32)
          bands.zipWithIndex.foreach { case ((off, w), i) =>
            assert(r.getLong(i + 2) ==
              ((full >> off) & ((BigInt(1) << w) - 1)).toLong,
              s"band $i (off $off width $w) of $full")
          }
        }
    }
    // the ladder steps where documented: 9 bands to 64k, 6 to 256k, then 4
    assert(VectorOps.adaptiveSignBands(500) == VectorOps.signBands)
    assert(VectorOps.adaptiveSignBands(65536) == VectorOps.signBands)
    assert(VectorOps.adaptiveSignBands(65537) == VectorOps.signBands6)
    assert(VectorOps.adaptiveSignBands(262144) == VectorOps.signBands6)
    assert(VectorOps.adaptiveSignBands(262145) == VectorOps.signBands4)
  }

  test("coarser band layouts stay pigeonhole-complete at their own thresholds") {
    // b disjoint covering bands are COMPLETE for hamming <= b-1 (some band
    // is untouched by the differing bits): equality against the
    // brute-force pair scan is that claim, checked per layout — the
    // e7b_complete gate proves it end-to-end for the 9-band layout only.
    val rnd = new scala.util.Random(13)
    for ((bands, thr) <- Seq((VectorOps.signBands6, 5), (VectorOps.signBands4, 3))) {
      val base = (0 until 120).map { i =>
        (i.toLong, rnd.nextInt().toLong & 0xffffffffL, rnd.nextInt().toLong & 0xffffffffL)
      }
      // twins: every 5th signature re-enters with exactly `thr` bits
      // flipped — guaranteed in-threshold pairs at the completeness edge
      val twins = base.collect { case (id, lo, hi) if id % 5 == 0 =>
        var l = lo; var h = hi
        rnd.shuffle((0 until 64).toList).take(thr).foreach { b =>
          if (b < 32) l ^= 1L << b else h ^= 1L << (b - 32)
        }
        (-id - 1, l, h)
      }
      val all = base ++ twins
      val got = VectorOps.bandedHammingPairs(
          all.toDF("vec_id", "sig_lo", "sig_hi"),
          "vec_id", "sig_lo", "sig_hi", thr, bands)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      def ham(a: (Long, Long, Long), b: (Long, Long, Long)): Int =
        java.lang.Long.bitCount(a._2 ^ b._2) + java.lang.Long.bitCount(a._3 ^ b._3)
      val want = (for {
        x <- all; y <- all if x._1 < y._1 && ham(x, y) <= thr
      } yield (x._1, y._1)).toSet
      assert(want.nonEmpty && got == want,
        s"layout with ${bands.size} bands at hamming <= $thr")
    }
  }

  test("ANN probe set derives from the actual id space, not a dense-zero assumption") {
    // offset every vec_id by 10^9: a literal `vec_id < 40` filter would
    // silently probe nothing; the rank-based cut must still yield exactly
    // ProbeCount probes, the lowest ids present.
    val dir = java.nio.file.Files.createTempDirectory("graft_offset_emb_")
    Tables.load(spark, Sf0001, "embeddings")
      .withColumn("vec_id", col("vec_id") + 1000000000L)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("e1_knn_bruteforce")(spark, dir.toString)
    val qids = out.select(col("q_id")).distinct().as[Long].collect().sorted
    assert(qids.length == VectorQueries.ProbeCount)
    assert(qids.head == 1000000000L)
    assert(qids.last == 1000000000L + VectorQueries.ProbeCount - 1)
  }
}
