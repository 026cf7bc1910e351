package graft

import org.apache.spark.sql.functions._
import graft.ops.Relational
import graft.ops.Relational.Bucket

class RelationalSpec extends SparkSpec {
  import spark.implicits._

  private val bands = Seq(
    Bucket(None, Some(0.0), "Negative"),
    Bucket(Some(0.0), Some(10.0), "Low"),
    Bucket(Some(10.0), None, "High"))

  test("bucketize maps ranges, null -> nullLabel") {
    val out = Seq[java.lang.Double](-5.0, 0.0, 9.99, 10.0, null).toDF("x")
      .select(Relational.bucketize(col("x"), bands).as("b")).as[String].collect()
    assert(out.toSeq == Seq("Negative", "Low", "Low", "High", "Unknown"))
  }

  test("bucketize is total over doubles incl. boundaries and extremes") {
    val labels = (bands.map(_.label) :+ "Unknown").toSet
    val rng = new scala.util.Random(42)
    val samples: Seq[java.lang.Double] =
      Seq[java.lang.Double](null, 0.0, -0.0, 10.0, Double.MinValue, Double.MaxValue,
        Double.NegativeInfinity, Double.PositiveInfinity) ++
        Seq.fill(200)(java.lang.Double.valueOf(rng.nextDouble() * 2e9 - 1e9))
    val out = samples.toDF("x")
      .select(Relational.bucketize(col("x"), bands).as("b")).as[String].collect()
    assert(out.forall(labels.contains), out.mkString(","))
  }

  test("hashId is deterministic and input-sensitive") {
    val df = Seq(("a", 1), ("a", 2), ("a", 1)).toDF("s", "i")
    val ids = df.select(Relational.hashId(Seq(col("s"), col("i"))).as("h")).as[String].collect()
    assert(ids(0) == ids(2) && ids(0) != ids(1) && ids(0).length == 64)
  }

  test("hashId equals the inline sha2(concat_ws) key over date, int and null columns") {
    // the warehouse dimension keys (Jobs) go through hashId: its explicit
    // string cast must give concat_ws's implicit one, nulls skipped alike
    val df = Seq((java.sql.Date.valueOf("2022-01-31"), 7, Option.empty[String]),
        (java.sql.Date.valueOf("2021-12-01"), -3, Some("W001")))
      .toDF("d", "i", "s")
    val keys = df.select(
      Relational.hashId(Seq(col("d"), col("i"), col("s"))).as("h"),
      sha2(concat_ws("|", col("d"), col("i"), col("s")), 256).as("inline"))
      .as[(String, String)].collect()
    assert(keys.length == 2)
    keys.foreach { case (h, inline) => assert(h == inline) }
  }

  test("removeOutliers nulls |z| > k, keeps the rest") {
    val vals = Seq.fill(20)(10.0) ++ Seq(1000.0)
    val out = vals.toDF("v")
    val cleaned = Relational.removeOutliers(out, Seq("v"), 3.0)
    assert(cleaned.where(col("v").isNull).count() == 1)
    assert(cleaned.where(col("v") === 10.0).count() == 20)
  }

  test("calendarFor spans min..max with Monday-first dow") {
    val df = Seq("2024-01-05", "2024-01-01").toDF("d").select(to_date(col("d")).as("d"))
    val cal = Relational.calendarFor(df, "d").orderBy("cal_date").collect()
    assert(cal.length == 5)
    val first = cal.head
    assert(first.getAs[java.sql.Date]("cal_date").toString == "2024-01-01")
    assert(first.getAs[Int]("day_of_week") == 1) // 2024-01-01 was a Monday
    assert(!first.getAs[Boolean]("is_weekend"))
    assert(cal.last.getAs[String]("day_name") == "Friday")
  }

  test("nearestWithinBand picks closest reading, keeps unmatched probes") {
    val probe = Seq((1L, 100L), (2L, 5000L)).toDF("pid", "pts")
    val readings = Seq((10L, 90L), (11L, 130L), (12L, 999999L)).toDF("rid", "rts")
    val out = Relational.nearestWithinBand(probe, "pid", "pts", readings, "rts", 100L, "rid")
      .orderBy("pid").collect()
    assert(out(0).getAs[Long]("rid") == 10L) // |100-90|=10 beats |100-130|=30
    assert(out(1).isNullAt(out(1).fieldIndex("rid"))) // nothing within 100 of 5000
  }

  test("nearestWithinBand band edge is inclusive across bucket boundary") {
    val probe = Seq((1L, 1000L)).toDF("pid", "pts")
    val readings = Seq((20L, 1100L)).toDF("rid", "rts") // next bucket, |dt| == band
    val out = Relational.nearestWithinBand(probe, "pid", "pts", readings, "rts", 100L, "rid")
    assert(out.head().getAs[Long]("rid") == 20L)
  }

  test("nearestWithinBand legacyEpochBug reproduces the reference's dead join") {
    // Reference load_fact.py:261 buckets readings by floor(epoch)/B instead
    // of floor(epoch/B): a reading's bucket is fractional — and so never
    // equals an integral probe bucket — unless its epoch is an exact
    // multiple of the band. rts=140 is 10 away from pts=150 but unseen
    // (bucket 1.4); rts=200 (bucket 2.0) is found by pts=210.
    val probe = Seq((1L, 150L), (2L, 210L)).toDF("pid", "pts")
    val readings = Seq((10L, 140L), (20L, 200L)).toDF("rid", "rts")
    val buggy = Relational.nearestWithinBand(probe, "pid", "pts",
      readings, "rts", 100L, "rid", legacyEpochBug = true).orderBy("pid").collect()
    assert(buggy(0).getAs[Long]("rid") == 20L) // only the %band==0 reading
    assert(buggy(1).getAs[Long]("rid") == 20L)
    val fixed = Relational.nearestWithinBand(probe, "pid", "pts",
      readings, "rts", 100L, "rid").orderBy("pid").collect()
    assert(fixed(0).getAs[Long]("rid") == 10L) // corrected path sees 140
  }

  test("topKPerGroup returns k rows per group in order") {
    val df = Seq((1, 10), (1, 30), (1, 20), (2, 5)).toDF("g", "v")
    val out = Relational.topKPerGroup(df, Seq(col("g")), Seq(col("v").desc), 2)
      .orderBy("g", "v").as[(Int, Int)].collect()
    assert(out.toSeq == Seq((1, 20), (1, 30), (2, 5)))
  }

  test("stampGroupFirst stamps every row with the group's first value") {
    val df = Seq((1, "2024-01-02", "new"), (1, "2024-01-01", "old"), (2, "2024-01-01", "x"))
      .toDF("g", "d", "v")
    val out = Relational.stampGroupFirst(df, "latest", col("v"),
      Seq(col("g")), Seq(col("d").desc))
    assert(out.where(col("g") === 1).select("latest").as[String].collect().toSet == Set("new"))
  }

  test("saltedJoin equals the plain join under heavy key skew") {
    val skewed = (1 to 1000).map(i => (if (i <= 900) "hot" else s"k$i", i)).toDF("k", "v")
    val dim = Seq(("hot", "H"), ("k950", "A"), ("missing", "Z")).toDF("k", "label")
    val plain = skewed.join(dim, Seq("k"), "inner").orderBy("v")
    val salted = Relational.saltedJoin(skewed, dim, Seq("k"), 8).orderBy("v")
    assert(salted.collect().toSeq == plain.collect().toSeq)
    assert(salted.count() == 901) // 900 hot + k950
  }

  test("skewSplitJoin equals the plain join and routes hot keys off the shuffle") {
    // 900 rows of one hot key + a cold tail; dim has hot, one cold match,
    // and a key absent from the facts (must not resurface via the split).
    val facts = (1 to 1000).map(i =>
      (if (i <= 900) "hot" else s"k$i", i)).toDF("k", "v")
    val dim = (Seq(("hot", "H"), ("missing", "Z")) ++
      (901 to 1000 by 2).map(i => (s"k$i", s"L$i"))).toDF("k", "label")
    val plain = facts.join(dim, Seq("k"), "inner").orderBy("v").collect().toSeq
    val split = Relational.skewSplitJoin(facts, dim, "k", 100L)
    assert(split.orderBy("v").collect().toSeq == plain)
    // Routing: with auto-broadcast off, the cold path must still shuffle
    // while the hot path stays broadcast (hints survive the conf).
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val q = Relational.skewSplitJoin(facts, dim, "k", 100L)
      q.collect()
      val plan = q.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        plan.take(1500))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("skewSplitJoin with a precomputed hot-key table equals the detect-inline form") {
    // The shared-detection seam (a12's materialized table feeding j10):
    // supplying the hot-key set must be routing-equivalent to detecting it
    // inline — same rows, no detection scan in the supplied-keys plan.
    val facts = (1 to 1000).map(i =>
      (if (i <= 900) "hot" else s"k$i", i)).toDF("k", "v")
    val dim = (Seq(("hot", "H"), ("missing", "Z")) ++
      (901 to 1000 by 2).map(i => (s"k$i", s"L$i"))).toDF("k", "label")
    val inline = Relational.skewSplitJoin(facts, dim, "k", 100L)
      .orderBy("v").collect().toSeq
    val hot = Relational.heavyHitters(facts.select(col("k")), "k", 100L)
      .select(col("k"))
    val supplied = Relational.skewSplitJoin(facts, dim, "k", hot)
    assert(supplied.orderBy("v").collect().toSeq == inline)
  }

  test("heavyHitters keeps a heavy NULL-key group, matching the naive plan") {
    // count_min_sketch skips nulls, so the null group must bypass the
    // CMS prefilter — the ≡-naive-plan contract includes it.
    val df = ((1 to 50).map(_ => Option.empty[String]) ++
      (1 to 60).map(_ => Option("hot")) ++
      (1 to 5).map(i => Option(s"cold$i"))).toDF("k")
    val got = Relational.heavyHitters(df, "k", 40L).orderBy("k").collect().toSeq
    val naive = df.groupBy("k").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= 40).orderBy("k").collect().toSeq
    assert(got == naive)
    assert(got.exists(_.isNullAt(0)))
  }

  test("aggState batches merge to the single-pass rollup, any batch shape") {
    val rows = Seq(
      ("a", 5L, -3L), ("a", 7L, 10L), ("a", -2L, 0L),
      ("b", 1L, 1L), ("c", 100L, -50L)).toDF("k", "x", "y")
    val full = Relational.aggState(rows, Seq("k"), Seq("x", "y"))
    // uneven batches incl. an empty one and a batch with a disjoint key
    val batches = Seq(
      rows.where(col("x") > 4), rows.where(col("x") <= 4),
      rows.where(lit(false)))
      .map(Relational.aggState(_, Seq("k"), Seq("x", "y")))
    val merged = Relational.mergeAggStates(batches, Seq("k"), Seq("x", "y"))
    assert(merged.orderBy("k").collect().toSeq ==
      full.orderBy("k").collect().toSeq)
    // associativity: fold order never matters
    val nested = Relational.mergeAggStates(Seq(
      Relational.mergeAggStates(batches.take(2), Seq("k"), Seq("x", "y")),
      batches(2)), Seq("k"), Seq("x", "y"))
    assert(nested.orderBy("k").collect().toSeq ==
      full.orderBy("k").collect().toSeq)
  }

  test("floorDivExact floors (DuckDB // semantics) on negatives, not truncates") {
    val out = Seq(-7L, -25L, -26L, 0L, 7L, 25L).toDF("x")
      .select(Relational.floorDivExact(col("x"), 25L).as("q"))
      .as[Long].collect().toSeq
    assert(out == Seq(-1L, -1L, -2L, 0L, 0L, 1L))
  }

  test("asOfJoin takes the latest at-or-before reading within horizon, per key") {
    val probes = Seq((1L, 100L, "u"), (2L, 250L, "u"), (3L, 100L, "v"),
      (4L, 500L, "u")).toDF("pid", "pts", "k")
    val reads = Seq((10L, 100L, "u"), (11L, 90L, "u"), (12L, 240L, "u"),
      (13L, 95L, "v"), (14L, 390L, "u")).toDF("rid", "rts", "k")
    val out = Relational.asOfJoin(probes, "pid", "pts", reads, "rts",
        100L, Seq("k"), "rid")
      .select("pid", "rid").as[(Long, Option[Long])].collect().toMap
    assert(out(1L).contains(10L)) // exact tie at ts=100 beats ts=90
    assert(out(2L).contains(12L)) // latest before, not the probe's own time
    assert(out(3L).contains(13L)) // per-key isolation: v never sees u's reads
    assert(out(4L).isEmpty)       // 390 is 110 back -> outside horizon, null
  }

  test("asOfJoin ties on equal timestamps break by the tiebreak column") {
    val probes = Seq((1L, 100L, "u")).toDF("pid", "pts", "k")
    val reads = Seq((20L, 100L, "u"), (10L, 100L, "u")).toDF("rid", "rts", "k")
    val out = Relational.asOfJoin(probes, "pid", "pts", reads, "rts",
        100L, Seq("k"), "rid")
      .select("rid").as[Long].collect()
    assert(out.toSeq == Seq(10L))
  }

  test("rangeJoin matches [lo,hi) semantics across bucket-spanning ranges") {
    val pts = Seq(0.0, 999.0, 1000.0, 75000.0, 149999.9, 150000.0)
      .toDF("p").withColumn("id", monotonically_increasing_id())
    val ranges = Seq((0.0, 1000.0, "a"), (1000.0, 150000.0, "b"),
      (150000.0, 200000.0, "c")).toDF("lo", "hi", "tier")
    val out = Relational.rangeJoin(pts, "p", ranges, "lo", "hi", 50000L)
      .select("p", "tier").as[(Double, String)].collect().toSet
    assert(out == Set((0.0, "a"), (999.0, "a"), (1000.0, "b"),
      (75000.0, "b"), (149999.9, "b"), (150000.0, "c")))
  }

  test("rangeJoin ignores empty and inverted ranges instead of fabricating buckets") {
    val pts = Seq(0.0, 100000.0).toDF("p")
    val ranges = Seq(
      (100000.0, 100000.0, "empty_on_boundary"), // sequence(2,1) trap
      (500000.0, 0.0, "inverted"),               // would be a giant desc array
      (0.0, 200000.0, "real")).toDF("lo", "hi", "tier")
    val out = Relational.rangeJoin(pts, "p", ranges, "lo", "hi", 50000L)
      .select("p", "tier").as[(Double, String)].collect().toSet
    assert(out == Set((0.0, "real"), (100000.0, "real")))
  }

  test("newRowsOnly keeps only unseen keys; incrementalAppend is idempotent") {
    val existing = Seq(1, 2, 3).toDF("k")
    val incoming = Seq(2, 3, 4, 5).toDF("k")
    assert(Relational.newRowsOnly(incoming, existing, Seq("k"))
      .as[Int].collect().toSet == Set(4, 5))

    val dir = java.nio.file.Files.createTempDirectory("graft_inc_spec_").toString + "/t"
    Relational.incrementalAppend(incoming, Seq("k"), dir)
    Relational.incrementalAppend(incoming, Seq("k"), dir) // second run: no new keys
    assert(spark.read.parquet(dir).count() == 4)
  }

  test("packByBudget matches the sequential greedy packing across partitions") {
    // Sparse, offset, shuffled ids; one weight larger than the whole budget.
    val rng = new scala.util.Random(7)
    val rows = rng.shuffle(
      (0 until 500).map(i => (1000000L + i * 7L, (i % 23).toLong + 1L)) :+
        (1000000L + 501 * 7L, 10000L))
    val got = Relational.packByBudget(
        rows.toDF("id", "w").repartition(13), "id", col("w"), budget = 100L, buckets = 11)
      .select("id", "shard_off", "shard_id").as[(Long, Long, Long)]
      .collect().sortBy(_._1)
    var acc = 0L
    val exp = rows.sortBy(_._1).map { case (id, w) =>
      val off = acc; acc += w; (id, off, off / 100L)
    }
    assert(got.toSeq == exp)
  }

  test("packByBudget boundaries: empty input, zero weights, invalid budget") {
    val empty = Seq.empty[(Long, Long)].toDF("id", "w")
    assert(Relational.packByBudget(empty, "id", col("w"), budget = 10L).count() == 0)

    // all-zero weights: every row has offset 0 and lands in shard 0
    val zeros = Relational.packByBudget(
        Seq((1L, 0L), (2L, 0L), (3L, 0L)).toDF("id", "w"), "id", col("w"), 10L)
      .select("id", "shard_off", "shard_id").as[(Long, Long, Long)].collect()
    assert(zeros.toSet == Set((1L, 0L, 0L), (2L, 0L, 0L), (3L, 0L, 0L)))

    intercept[IllegalArgumentException] {
      Relational.packByBudget(empty, "id", col("w"), budget = 0L)
    }
  }

  test("packByBudget shard ids stay exact past 2^53 cumulative weight") {
    // Weights big enough that the running offset crosses the Double exact
    // range (2^53 ≈ 9.007e15) mid-table — the regime a 100 TB corpus with
    // byte-granularity weights reaches. The old `(off - pmod) / budget`
    // Double division drifts by ±1 shard up there; floorDivExact must not.
    val w = (1L << 51) + 1L // offsets cross 2^53 after 4 rows
    val rows = (0 until 24).map(i => (i.toLong, w))
    val got = Relational.packByBudget(
        rows.toDF("id", "w").repartition(5), "id", col("w"),
        budget = 3L, buckets = 3)
      .select("id", "shard_off", "shard_id").as[(Long, Long, Long)]
      .collect().sortBy(_._1)
    val exp = rows.map { case (id, _) =>
      val off = id * w; (id, off, off / 3L)
    }
    assert(got.toSeq == exp)
    // Sanity: the old Double path (divide, then cast-to-Long truncation)
    // DOES diverge on these offsets — 9 of the 24 rows land one shard off —
    // so the equality above genuinely exercises the integer path.
    assert(exp.count { case (_, off, sid) =>
      ((off - off % 3L).toDouble / 3.0).toLong != sid } >= 5)
  }

  test("packByBudget rejects negative weights at runtime") {
    val bad = Seq((1L, 5L), (2L, -3L), (3L, 4L)).toDF("id", "w")
    val e = intercept[Exception] {
      Relational.packByBudget(bad, "id", col("w"), budget = 10L).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("negative weight")))
  }

  test("packByBudget with a reliable checkpoint dir matches local mode") {
    val ckpt = java.nio.file.Files.createTempDirectory("graft_pack_ckpt_")
    val rows = (0 until 100).map(i => (i.toLong, (i % 5).toLong + 1L))
    def run(dir: Option[String]) = Relational.packByBudget(
        rows.toDF("id", "w").repartition(5), "id", col("w"), 20L,
        checkpointDir = dir)
      .select("id", "shard_off", "shard_id").as[(Long, Long, Long)]
      .collect().sortBy(_._1).toSeq
    assert(run(Some(ckpt.toString)) == run(None))
  }

  test("bucketedQuantiles matches sorted-array selection incl. negatives and ties") {
    val rng = new scala.util.Random(7)
    // Heavy ties (values mod 40), negatives, and a spread crossing many
    // buckets at width 25 — the selection must equal a plain sort at the
    // same integer rank (n-1)*num div den for every requested quantile.
    val vals = Seq.fill(3000)((rng.nextInt(2000) - 700).toLong % 40 * 37L)
    val qs = Seq(("p0", 0L, 1L), ("p25", 1L, 4L), ("p50", 1L, 2L),
      ("p90", 9L, 10L), ("p99", 99L, 100L), ("p100", 1L, 1L))
    val got = Relational.bucketedQuantiles(
        vals.toDF("v").repartition(7), "v", 25L, qs)
      .as[(String, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    val sorted = vals.sorted
    val n = sorted.length.toLong
    for ((q, num, den) <- qs) {
      val r = Math.floorDiv((n - 1) * num, den)
      assert(got(q) == ((r, sorted(r.toInt))), s"$q: got ${got(q)}")
    }
  }

  test("rowSizedPartitions holds rows-per-task invariant across corpus size") {
    // the scale-invariant quantity is rows-per-task, never cores
    assert(Relational.rowSizedPartitions(0L) == 1)
    assert(Relational.rowSizedPartitions(1L) == 1)
    assert(Relational.rowSizedPartitions(250000L) == 1)
    assert(Relational.rowSizedPartitions(250001L) == 2)
    assert(Relational.rowSizedPartitions(15000000L) == 60)   // the r14 rung
    assert(Relational.rowSizedPartitions(150000000L) == 600) // the 100x rung
    // no overflow at absurd row counts; clamps into Int
    assert(Relational.rowSizedPartitions(Long.MaxValue, 1L) == Int.MaxValue)
    assert(Relational.rowSizedPartitions(1000L, 100L) == 10)
    intercept[IllegalArgumentException] {
      Relational.rowSizedPartitions(10L, 0L)
    }
  }

  test("bucketedQuantiles auto-coarsens past the bucket-window cap, result unchanged") {
    val rng = new scala.util.Random(11)
    val vals = Seq.fill(2000)((rng.nextInt(5000) - 2500).toLong)
    val qs = Seq(("p10", 1L, 10L), ("p50", 1L, 2L), ("p999", 999L, 1000L))
    def run() = Relational.bucketedQuantiles(
        vals.toDF("v").repartition(5), "v", 1L, qs) // width 1: ~thousands of buckets
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    val fine = run()
    // cap of 16 forces a large coarsen factor; exactness must be
    // width-independent (the histogram only LOCATES ranks)
    spark.conf.set("spark.graft.window.maxBucketRows", "16")
    try assert(run() == fine, "coarsened selection diverged from fine-bucket run")
    finally spark.conf.unset("spark.graft.window.maxBucketRows")
    val sorted = vals.sorted
    for ((q, num, den) <- qs) {
      val r = Math.floorDiv((vals.length.toLong - 1) * num, den)
      assert(fine.find(_._1 == q).get == ((q, r, sorted(r.toInt))))
    }
  }

  test("packByBudget refuses a bucket count past the bucket-window cap") {
    val df = spark.range(0, 100).select(col("id"), lit(1L).as("w"))
    spark.conf.set("spark.graft.window.maxBucketRows", "8")
    try {
      val e = intercept[IllegalArgumentException] {
        Relational.packByBudget(df, "id", col("w"), budget = 10L, buckets = 16)
      }
      assert(e.getMessage.contains("maxBucketRows"), e.getMessage)
      // at or under the cap the operator runs normally
      assert(Relational.packByBudget(df, "id", col("w"), budget = 10L,
        buckets = 8).count() == 100)
    } finally spark.conf.unset("spark.graft.window.maxBucketRows")
  }

  test("collectBucketCounts bounds the collect and refuses corpus-scale bucket tables") {
    val bt = spark.range(0, 40).select(col("id").as("bkt"), lit(2L).as("c"))
    spark.conf.set("spark.graft.window.maxBucketRows", "10")
    try {
      val e = intercept[IllegalStateException] {
        Relational.collectBucketCounts(bt, "probe")
      }
      assert(e.getMessage.contains("probe") && e.getMessage.contains("maxBucketRows"))
    } finally spark.conf.unset("spark.graft.window.maxBucketRows")
    val ok = Relational.collectBucketCounts(bt, "probe")
    assert(ok.size == 40 && ok.forall(_._2 == 2L))
    // null bucket surfaces as None
    val withNull = Relational.collectBucketCounts(
      Seq((Some(1L), 3L), (None, 5L)).toDF("bkt", "c"), "probe")
    assert(withNull.toSet == Set((Some(1L), 3L), (None, 5L)))
  }

  test("spill-dir parsing honors comma lists, trims, and drops missing dirs") {
    val existing = java.nio.file.Files.createTempDirectory("graft_spill_").toString
    val dirs = Relational.parseSpillDirs(s"$existing, /nonexistent/graft-spill ,")
    assert(dirs.map(_.getPath) == Seq(existing),
      s"expected only the existing dir, got ${dirs.map(_.getPath)}")
    // Resolution is asserted through the injected-env seam
    // (resolveSpillConf), NEVER against the ambient process environment —
    // the r21 form asserted !sys.env.contains("SPARK_LOCAL_DIRS") and went
    // red on any box that sets it (the driver's does: VERDICT r21 item 1).
    // No env vars and no context conf -> java.io.tmpdir (exists).
    val tmp = System.getProperty("java.io.tmpdir")
    assert(Relational.resolveSpillConf(_ => None, None) == tmp)
    // A RUNTIME spark.conf.set must NOT move it — Spark fixes spill dirs
    // at context startup, so the guard reads the CONTEXT conf, not the
    // mutable session conf: a runtime-set session value never reaches
    // resolveSpillConf's contextLocalDir argument. Pin that spillDirs
    // wires the context conf (unset in this suite's session) by checking
    // a runtime set leaves the context conf — and hence the guard's
    // resolution input — unchanged.
    spark.conf.set("spark.local.dir", "/nonexistent/runtime-set")
    try {
      assert(spark.sparkContext.getConf.getOption("spark.local.dir").isEmpty,
        "runtime spark.conf.set must not leak into the context conf")
      // and the missing-dir fallback: a configured-but-absent dir resolves
      // to tmpdir rather than an empty watch set
      assert(Relational.spillDirsFrom("/nonexistent/runtime-set")
        .map(_.getPath) == Seq(new java.io.File(tmp).getPath))
    } finally spark.conf.unset("spark.local.dir")
  }

  test("spill-dir resolution gates LOCAL_DIRS on the YARN-container signal") {
    val tmp = System.getProperty("java.io.tmpdir")
    def env(m: Map[String, String]): String => Option[String] = m.get
    // LOCAL_DIRS alone (a stray var in local mode): Spark never consults
    // it outside a YARN container, so neither does the guard.
    assert(Relational.resolveSpillConf(
      env(Map("LOCAL_DIRS" -> "/yarn/a,/yarn/b")), None) == tmp)
    // LOCAL_DIRS + CONTAINER_ID (in-container): honored, highest priority.
    assert(Relational.resolveSpillConf(
      env(Map("LOCAL_DIRS" -> "/yarn/a", "CONTAINER_ID" -> "c1",
        "SPARK_LOCAL_DIRS" -> "/x")), Some("/y")) == "/yarn/a")
    // SPARK_LOCAL_DIRS beats the context conf; context conf beats tmpdir.
    assert(Relational.resolveSpillConf(
      env(Map("SPARK_LOCAL_DIRS" -> "/x")), Some("/y")) == "/x")
    assert(Relational.resolveSpillConf(env(Map.empty), Some("/y")) == "/y")
    // Every configured dir missing: fall back to tmpdir (warned), never
    // an empty watch set.
    assert(Relational.spillDirsFrom("/nonexistent/a,/nonexistent/b")
      .map(_.getPath) == Seq(new java.io.File(tmp).getPath))
  }

  test("bucketedQuantiles on a single-bucket and single-row frame") {
    val one = Relational.bucketedQuantiles(Seq(42L).toDF("v"), "v", 1000L,
      Seq(("p50", 1L, 2L))).as[(String, Long, Long)].collect()
    assert(one.toSeq == Seq(("p50", 0L, 42L)))
    // all values inside one bucket: within-bucket sort must still select
    val vs = Seq(5L, 3L, 9L, 9L, 1L)
    val got = Relational.bucketedQuantiles(vs.toDF("v"), "v", 1000L,
      Seq(("p50", 1L, 2L))).as[(String, Long, Long)].collect()
    assert(got.toSeq == Seq(("p50", 2L, vs.sorted.apply(2))))
  }
}
