package graft

import org.apache.spark.sql.functions._
import graft.ops.Relational

/** Z-order is a LAYOUT claim, so the spec measures layout: after
  * clustering on (a, b), every file's min/max span on EACH dimension must
  * be a small fraction of the global range — that is what lets parquet
  * footer stats skip files for a predicate on either column. A
  * single-column sort is the control: its sort column narrows but the
  * other dimension spans ~the full range in every file (no skipping).
  */
class ZorderSpec extends SparkSpec {

  /** Mean per-file (max−min)/(globalMax−globalMin) of `c` for the parquet
    * files under `path` — 1.0 means every file covers the whole range
    * (zero skipping), files^(-1/dims) is the z-order ideal.
    */
  private def meanSpan(path: String, c: String): Double = {
    val df = spark.read.parquet(path)
    val g = df.agg(min(col(c)).cast("double"), max(col(c)).cast("double")).head()
    val range = g.getDouble(1) - g.getDouble(0)
    val spans = df.groupBy(input_file_name().as("f"))
      .agg(((max(col(c)) - min(col(c))).cast("double") / range).as("s"))
      .agg(avg(col("s"))).head().getDouble(0)
    spans
  }

  test("zorderBy narrows per-file spans on BOTH dimensions; single sort only on one") {
    // A uniform 2-D grid — the shape where the ideal is crisp: 16 files,
    // 2 dims -> ideal span ~ 16^(-1/2) = 0.25 per dimension.
    val n = 64
    val grid = spark.range(n.toLong * n)
      .select((col("id") % n).as("a"), (col("id") / n).cast("long").as("b"),
        col("id").as("payload"))
    val zdir = java.nio.file.Files.createTempDirectory("graft_z_").toString
    val sdir = java.nio.file.Files.createTempDirectory("graft_s_").toString
    Relational.zorderBy(grid, Seq("a", "b"), 16)
      .write.mode("overwrite").parquet(zdir)
    grid.repartitionByRange(16, col("a")).sortWithinPartitions(col("a"))
      .write.mode("overwrite").parquet(sdir)

    val (za, zb) = (meanSpan(zdir, "a"), meanSpan(zdir, "b"))
    val (sa, sb) = (meanSpan(sdir, "a"), meanSpan(sdir, "b"))
    // z-order: both dimensions narrow (allow slack over the 0.25 ideal for
    // range-partition boundary effects)
    assert(za < 0.5, s"zorder dim a mean span $za")
    assert(zb < 0.5, s"zorder dim b mean span $zb")
    // control: the single-column sort narrows its own dimension only
    assert(sa < 0.2, s"sorted dim a mean span $sa")
    assert(sb > 0.9, s"sorted dim b mean span $sb — control should NOT narrow b")
    // and content is untouched (layout-only contract)
    assert(spark.read.parquet(zdir).exceptAll(grid).isEmpty &&
      grid.exceptAll(spark.read.parquet(zdir)).isEmpty)
  }

  /** Expected number of files a point lookup `c = v` must read, with v
    * drawn from the DATA (mass-weighted): for each row, count the files
    * whose [min,max] footer range contains its value, and average. This is
    * the skipping metric that survives skew — a value-relative span looks
    * tiny on log-distributed data even when every bulk file overlaps every
    * bulk value.
    */
  // The shared read-locality metric — one implementation (see its scaladoc)
  // so these assertions stay comparable with `Probe compact`'s numbers.
  private def filesPerLookup(path: String, c: String): Double =
    Relational.filesPerLookup(spark.read.parquet(path), c)

  test("quantile boundaries cluster a skewed column where linear bucketing can't") {
    // Log-uniform `a` (spans 1..1e6, ~60% of mass below range/256): linear
    // min/max bucketing puts the bulk into a handful of bottom buckets —
    // no rank spread within the bulk, so the interleave can't separate it
    // and every bulk file's footer range overlaps every bulk value. Equal-
    // mass boundaries give each rank the same row count, so files tile the
    // mass and a point lookup touches ~1-3 of 16 files.
    val n = 4096L
    val u = (col("id") * 2654435761L % n).cast("double") / n
    val skewed = spark.range(n).select(
      floor(pow(lit(1e6), u)).cast("long").as("a"), col("id").as("b"))
    val ldir = java.nio.file.Files.createTempDirectory("graft_zl_").toString
    val qdir = java.nio.file.Files.createTempDirectory("graft_zq_").toString
    Relational.zorderBy(skewed, Seq("a", "b"), 16)
      .write.mode("overwrite").parquet(ldir)
    Relational.zorderBy(skewed, Seq("a", "b"), 16, bitsPerCol = 6,
        quantile = true)
      .write.mode("overwrite").parquet(qdir)
    val (lf, qf) = (filesPerLookup(ldir, "a"), filesPerLookup(qdir, "a"))
    // 16 files / 2 dims: the z-order ideal for a single-dim lookup is
    // ~sqrt(16) = 4 files; duplicates of the small values and file-cut
    // boundary effects push the achievable floor up — the claim under
    // test is the GAP: linear bucketing reads ~every file, quantile
    // roughly halves it or better.
    assert(lf > 12.0,
      s"linear bucketing should FAIL to skip on skewed a: $lf of 16 files/lookup")
    assert(qf < 8.0 && qf * 1.6 < lf,
      s"quantile bucketing should skip on skewed a: $qf vs linear $lf files/lookup")
    // the uniform dimension must still narrow under quantile mode
    val qb = meanSpan(qdir, "b")
    assert(qb < 0.5, s"quantile mode dim b mean span $qb")
    // layout-only contract holds in quantile mode too
    assert(spark.read.parquet(qdir).exceptAll(skewed).isEmpty &&
      skewed.exceptAll(spark.read.parquet(qdir)).isEmpty)
  }

  test("hilbert curve clusters at least as tight as morton on the same ranks") {
    // Same uniform grid as the first test — the shape where the curves'
    // locality difference is purely the linearization (identical ranks).
    // Hilbert's unit-step property (HilbertSpec) means range-partition
    // cuts land on grid-adjacent boundaries, so per-file blobs are at
    // least as compact as Morton's seam-jumping stripes: files-per-lookup
    // must not regress on either dimension, and both dims must narrow.
    val n = 64
    val grid = spark.range(n.toLong * n)
      .select((col("id") % n).as("a"), (col("id") / n).cast("long").as("b"),
        col("id").as("payload"))
    val mdir = java.nio.file.Files.createTempDirectory("graft_zm_").toString
    val hdir = java.nio.file.Files.createTempDirectory("graft_zh_").toString
    Relational.zorderBy(grid, Seq("a", "b"), 16)
      .write.mode("overwrite").parquet(mdir)
    Relational.zorderBy(grid, Seq("a", "b"), 16, curve = "hilbert")
      .write.mode("overwrite").parquet(hdir)
    for (c <- Seq("a", "b")) {
      val hs = meanSpan(hdir, c)
      assert(hs < 0.5, s"hilbert dim $c mean span $hs")
      val (mf, hf) = (filesPerLookup(mdir, c), filesPerLookup(hdir, c))
      // "at least as tight": allow file-cut boundary jitter, no regression
      assert(hf <= mf * 1.1,
        s"hilbert files/lookup on $c regressed: $hf vs morton $mf")
    }
    // layout-only contract holds for the hilbert path too
    assert(spark.read.parquet(hdir).exceptAll(grid).isEmpty &&
      grid.exceptAll(spark.read.parquet(hdir)).isEmpty)
  }

  test("quantile ranks compose with the hilbert curve (the full knob matrix)") {
    // Same skewed frame as the quantile test: equal-mass ranks feed the
    // Hilbert linearization exactly as they feed Morton — the two knobs
    // are orthogonal by construction, and this pins it: skipping works on
    // the skewed dim, the uniform dim still narrows, content untouched.
    val n = 4096L
    val u = (col("id") * 2654435761L % n).cast("double") / n
    val skewed = spark.range(n).select(
      floor(pow(lit(1e6), u)).cast("long").as("a"), col("id").as("b"))
    val dir = java.nio.file.Files.createTempDirectory("graft_zqh_").toString
    Relational.zorderBy(skewed, Seq("a", "b"), 16, bitsPerCol = 6,
        quantile = true, curve = "hilbert")
      .write.mode("overwrite").parquet(dir)
    val qf = filesPerLookup(dir, "a")
    assert(qf < 8.0, s"quantile+hilbert should skip on skewed a: $qf of 16")
    val qb = meanSpan(dir, "b")
    assert(qb < 0.5, s"quantile+hilbert dim b mean span $qb")
    assert(spark.read.parquet(dir).exceptAll(skewed).isEmpty &&
      skewed.exceptAll(spark.read.parquet(dir)).isEmpty)
  }

  test("zorderBy ranks nulls at the origin and survives constant columns") {
    import spark.implicits._
    val df = Seq[(java.lang.Long, java.lang.Long)](
      (null, 5L), (1L, 5L), (2L, 5L), (100L, 5L))
      .toDF("a", "b")
    // constant b: degenerate range must not divide by zero; null a must
    // not be dropped or crash
    val out = Relational.zorderBy(df, Seq("a", "b"), 2)
    assert(out.count() == 4)
    assert(out.where(col("a").isNull).count() == 1)
  }

  test("compactClustered merges k sliced cluster sets into one, rows preserved") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_")
    val src = dir.resolve("sliced").toString
    val dst = dir.resolve("compacted").toString
    // Simulate the sliced fact write: 3 sequential range-clustered appends
    // over disjoint hash slices of one partitioned table — each partition
    // dir ends up holding 3 interleaved cluster sets on `d`.
    val rows = (0 until 30000).map(i => (s"P${i % 4}", i % 997, i))
    val df = rows.toDF("part", "d", "payload")
    (0 until 3).foreach { s =>
      df.where(pmod(xxhash64(col("payload")), lit(3)) === s)
        .repartitionByRange(6, col("part"), col("d"))
        .sortWithinPartitions(col("part"), col("d"))
        .write.mode("append").partitionBy("part").parquet(src)
    }
    // The locality metric the remedy exists for — the SAME shared
    // implementation `Probe compact` prints (partition-scoped form).
    def filesPerLookup(path: String): Double =
      Relational.filesPerLookup(spark.read.parquet(path), "d", Some("part"))
    val before = filesPerLookup(src)
    assert(before > 2.0, f"sliced fixture should overlap ~3 cluster sets, got $before%.2f")
    // same partition count as each slice's append: the gain below is the
    // cluster-set merge, not a file-count change
    val n = Relational.compactClustered(spark.read.parquet(src), dst, "part", Seq("d"),
      partitions = Some(6))
    assert(n == 30000)
    // exact multiset equality: compaction is a LAYOUT operation only
    val a = spark.read.parquet(src).select("part", "d", "payload")
    val b = spark.read.parquet(dst).select("part", "d", "payload")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    val after = filesPerLookup(dst)
    assert(after < before / 2 && after < 1.5,
      f"compaction did not restore single-set locality: $before%.2f -> $after%.2f files/lookup")
  }
}
