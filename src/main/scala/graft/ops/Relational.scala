package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

/** Core relational operator library — the reusable `DataFrame => DataFrame`
  * / `Column => Column` builders that the reference implements as
  * driver-side Python helpers (it composes only built-in Catalyst
  * expressions; no UDFs — see reference `etl/transform/` jobs). Everything
  * here stays inside whole-stage codegen and is shuffle-aware for cluster
  * scale: no `collect()` except deliberate scalar aggregates (matching the
  * reference's two-pass z-score / calendar-span idiom).
  */
object Relational {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  // ---------------------------------------------------------------------
  // Bucketing (range -> label)
  // ---------------------------------------------------------------------

  /** One `[lo, hi)` range mapped to a label. `None` = unbounded side. */
  final case class Bucket(lo: Option[Double], hi: Option[Double], label: String)

  /** Numeric -> categorical level via a folded `when` chain over `[lo,hi)`
    * strategies, null -> `nullLabel`. Pure Column composition (codegen'd,
    * no UDF).
    *
    * Reference: `etl/transform/aq-cleanse.py:160-187` (8 pollutant
    * strategies), `weather-cleanse.py:117-137`, `wb-cleanse.py:133-155`.
    */
  def bucketize(c: Column, buckets: Seq[Bucket], nullLabel: String = "Unknown"): Column = {
    val chain = buckets.foldLeft(when(c.isNull, lit(nullLabel))) { (acc, b) =>
      val cond = (b.lo, b.hi) match {
        case (Some(l), Some(h)) => c >= l && c < h
        case (Some(l), None)    => c >= l
        case (None, Some(h))    => c < h
        case (None, None)       => lit(true)
      }
      acc.when(cond, lit(b.label))
    }
    chain.otherwise(lit(nullLabel))
  }

  /** Bucketize variant with no null/fallback label: unmatched or null
    * inputs yield null (the well-being jobs' contract — labels get
    * null-filled later with a configurable replacement;
    * reference: `wb-cleanse.py:133-162` otherwise(None)).
    */
  def bucketizeOrNull(c: Column, buckets: Seq[Bucket]): Column = {
    val conds = buckets.map { b =>
      val cond = (b.lo, b.hi) match {
        case (Some(l), Some(h)) => c >= l && c < h
        case (Some(l), None)    => c >= l
        case (None, Some(h))    => c < h
        case (None, None)       => lit(true)
      }
      (cond, lit(b.label))
    }
    conds.tail.foldLeft(when(conds.head._1, conds.head._2)) {
      case (acc, (cond, label)) => acc.when(cond, label)
    }.otherwise(lit(null))
  }

  // ---------------------------------------------------------------------
  // Surrogate keys
  // ---------------------------------------------------------------------

  /** Deterministic surrogate key: `sha2(concat_ws("|", cols), 256)`.
    * Non-string columns are cast to string first so the key is stable
    * across input storage types.
    *
    * Reference: `etl/transform/ward-dimension.py:23-28`,
    * `wb-dimension.py:69-74`, `etl/load/load_fact.py:129-139`.
    */
  def hashId(cols: Seq[Column]): Column =
    sha2(concat_ws("|", cols.map(_.cast("string")): _*), 256)

  // ---------------------------------------------------------------------
  // Outlier removal
  // ---------------------------------------------------------------------

  /** Z-score outlier null-out. Two passes: one fused scalar aggregate for
    * all columns (the reference runs one Spark job per column — fused here
    * so a 100 TB scan happens once), then a `when` rewrite. The scalar
    * collect is a single tiny row — cluster-safe.
    *
    * Reference: `etl/transform/aq-cleanse.py:123-157` (threshold 3.0 at
    * `:34`, driver loop `:239-240`).
    */
  def removeOutliers(df: DataFrame, cols: Seq[String], zThreshold: Double = 3.0,
                     twoSided: Boolean = true): DataFrame = {
    val aggs = cols.flatMap(c =>
      Seq(avg(col(c)).as(s"__mu_$c"), stddev_samp(col(c)).as(s"__sigma_$c")))
    val stats = df.agg(aggs.head, aggs.tail: _*).head()
    cols.zipWithIndex.foldLeft(df) { case (acc, (c, i)) =>
      val mu    = Option(stats.get(2 * i)).map(_.asInstanceOf[Number].doubleValue)
      val sigma = Option(stats.get(2 * i + 1)).map(_.asInstanceOf[Number].doubleValue)
      (mu, sigma) match {
        case (Some(m), Some(s)) if s > 0.0 =>
          val z = (col(c) - lit(m)) / lit(s)
          val bad = if (twoSided) abs(z) > zThreshold else z > zThreshold
          acc.withColumn(c, when(bad, lit(null)).otherwise(col(c)))
        case _ => acc
      }
    }
  }

  // ---------------------------------------------------------------------
  // Calendar generation
  // ---------------------------------------------------------------------

  /** Calendar dimension spanning `[min(dateCol), max(dateCol)]` of `df`:
    * `sequence` + `explode` + date-part columns. The span is a deliberate
    * 2-value scalar collect (reference does the same).
    *
    * `day_of_week` is Monday-first (reference remaps Spark's Sunday-first
    * `dayofweek` via `when(dow==1,7).otherwise(dow-1)` at
    * `etl/transform/date-dimension.py:57-74`).
    *
    * Reference: `etl/transform/date-dimension.py:36-77`.
    */
  def calendarFor(df: DataFrame, dateCol: String): DataFrame = {
    val spark = df.sparkSession
    val span = df.agg(min(to_date(col(dateCol))).as("lo"), max(to_date(col(dateCol))).as("hi")).head()
    val (lo, hi) = (span.getDate(0), span.getDate(1))
    val mondayFirst = when(dayofweek(col("cal_date")) === 1, lit(7))
      .otherwise(dayofweek(col("cal_date")) - 1)
    spark.range(1)
      .select(explode(sequence(lit(lo), lit(hi), expr("interval 1 day"))).as("cal_date"))
      .withColumn("year", year(col("cal_date")))
      .withColumn("month", month(col("cal_date")))
      .withColumn("day", dayofmonth(col("cal_date")))
      .withColumn("quarter", quarter(col("cal_date")))
      .withColumn("week_of_year", weekofyear(col("cal_date")))
      .withColumn("day_name", date_format(col("cal_date"), "EEEE"))
      .withColumn("month_name", date_format(col("cal_date"), "MMMM"))
      .withColumn("day_of_week", mondayFirst)
      .withColumn("is_weekend", mondayFirst >= 6)
  }

  // ---------------------------------------------------------------------
  // Incremental load (anti-join dedup)
  // ---------------------------------------------------------------------

  /** Rows of `incoming` whose key is absent from `existing` — the
    * reference's incremental-load primitive. `broadcastExisting` mirrors
    * the explicit broadcast hint the reference uses when the existing-key
    * side is dimension-sized (`etl/extract/aq-extract.py:52`); leave it
    * false when the sink is fact-sized so Spark plans a shuffled anti join.
    *
    * Reference: `etl/extract/lfb-extract.py:36-37`, `aq-extract.py:50-53`,
    * `wb-extract.py:25-26`, `weather-extract.py:25-26`.
    */
  def newRowsOnly(incoming: DataFrame, existing: DataFrame, keys: Seq[String],
                  broadcastExisting: Boolean = false): DataFrame = {
    val keyDf0 = existing.select(keys.map(col): _*).distinct()
    val keyDf = if (broadcastExisting) broadcast(keyDf0) else keyDf0
    incoming.join(keyDf, keys, "left_anti")
  }

  /** The parquet sink at `path`, or None when nothing has landed there yet
    * (absent path, or no readable parquet under it) — the try/except
    * pattern of `etl/extract/lfb-extract.py:30-52`. An absent path is
    * checked first: a read of it fails too, but only after Spark logs a
    * `FileNotFoundException` stack trace.
    */
  def existingParquet(spark: SparkSession, path: String): Option[DataFrame] = {
    val dir = new org.apache.hadoop.fs.Path(path)
    if (!dir.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(dir)) None
    else try Some(spark.read.parquet(path))
    catch { case _: org.apache.spark.sql.AnalysisException => None }
  }

  /** Append-only-new-rows to a parquet path; first run (sink absent)
    * falls back to overwrite. The load contract of the warehouse's
    * extract and incremental dimension jobs; `broadcastExisting` as in
    * `newRowsOnly`.
    *
    * A no-op append (every incoming key already landed) still commits one
    * schema-only part file; it is deleted again, checked from its parquet
    * footer, so re-runs do not grow the sink by one empty file each.
    */
  def incrementalAppend(incoming: DataFrame, keys: Seq[String], path: String,
                        broadcastExisting: Boolean = false): Unit =
    existingParquet(incoming.sparkSession, path) match {
      case Some(ex) =>
        val conf = incoming.sparkSession.sparkContext.hadoopConfiguration
        val dir = new org.apache.hadoop.fs.Path(path)
        val fs = dir.getFileSystem(conf)
        def parts() = fs.listStatus(dir).filter(_.getPath.getName.endsWith(".parquet"))
        val before = parts().map(_.getPath.getName).toSet
        newRowsOnly(incoming, ex, keys, broadcastExisting)
          .write.mode("append").parquet(path)
        // An empty result is written as exactly one file; a non-empty
        // one may be too, so the footer decides.
        parts().filterNot(st => before(st.getPath.getName)) match {
          case Array(st) if footerRows(st, conf) == 0 => fs.delete(st.getPath, false)
          case _ =>
        }
      case None =>
        incoming.write.mode("overwrite").parquet(path)
    }

  private def footerRows(st: org.apache.hadoop.fs.FileStatus,
                         conf: org.apache.hadoop.conf.Configuration): Long = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
    try r.getRecordCount finally r.close()
  }

  // ---------------------------------------------------------------------
  // Temporal nearest-within-band join (as-of/band join)
  // ---------------------------------------------------------------------

  /** Clustered-write partition count sized by ROWS, not cores. An explicit
    * `repartitionByRange(n, …)` count bypasses both
    * `spark.sql.shuffle.partitions` and AQE (an explicit numPartitions is
    * never coalesced or split), so deriving it from `defaultParallelism`
    * silently fixes rows-per-task to corpus-size/cores — past ~250k wide
    * rows per task the write's sort working set spills and the stage goes
    * super-linear (measured: the 15M-row fact build, SCALE.md round 14).
    * Rows-per-task is the scale-invariant quantity: this helper holds it
    * at `rowsPerPartition` whatever the corpus or cluster size. The count
    * costs one `df.count()` on the write input — for parquet inputs a
    * footer-metadata scan, negligible next to the write itself.
    */
  def rowSizedPartitions(rowCount: Long, rowsPerPartition: Long = 250000L): Int = {
    require(rowsPerPartition > 0, s"rowsPerPartition must be > 0, got $rowsPerPartition")
    // ceil-div without the additive overflow near Long.MaxValue
    val n = rowCount / rowsPerPartition +
      (if (rowCount % rowsPerPartition > 0) 1L else 0L)
    math.min(math.max(n, 1L), Int.MaxValue.toLong).toInt
  }

  /** Clears a stale managed-table location left behind by a previous JVM,
    * so a following `saveAsTable(mode=overwrite)` succeeds.
    *
    * On a table the catalog does not know, overwrite-mode `saveAsTable` is
    * a CREATE, and Spark refuses to create a managed table over an existing
    * directory (`LOCATION_ALREADY_EXISTS`). With a persistent metastore
    * this never happens — the table survives the restart and the overwrite
    * replaces it — but the local in-memory catalog dies with the JVM while
    * the warehouse directory does not. A stage-boundary restart
    * (`Pipeline.run(fromStage = ...)`) therefore deletes the orphaned
    * directory before re-creating the table it was about to overwrite
    * anyway. Deletion only fires when the catalog has NO entry for the
    * table, so a live table's data can never be removed here — the
    * overwrite itself handles that path atomically.
    */
  def prepareManagedOverwrite(spark: org.apache.spark.sql.SparkSession,
                              table: String): Unit =
    if (!spark.catalog.tableExists(table)) {
      val (db, name) = table.split('.') match {
        case Array(d, t) => (d, t)
        case Array(t)    => (spark.catalog.currentDatabase, t)
        case other => sys.error(s"unexpected table identifier '$table'")
      }
      if (spark.catalog.databaseExists(db)) {
        // Managed-table dirs live under the database location, lowercased
        // (the session catalog normalizes identifiers to lowercase).
        val dir = new org.apache.hadoop.fs.Path(
          new org.apache.hadoop.fs.Path(spark.catalog.getDatabase(db).locationUri),
          name.toLowerCase(java.util.Locale.ROOT))
        val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(dir)) fs.delete(dir, true)
      }
    }

  /** floor(c / d) as a bucket key, exact for the FULL Long range (d > 0).
    * Computed as truncating `IntegralDivide` plus a −1 correction when the
    * remainder is negative (truncation rounded toward zero but the true
    * floor is below). Pure integer math end to end, so epoch-nanosecond
    * Longs (~1.7e18, beyond double's 2^53 exact range) bucket correctly,
    * and — unlike the earlier `(c - pmod(c, d)) div d` form — there is no
    * intermediate subtraction to overflow near Long.MinValue: |c div d| ≤
    * |c| and the correction only fires when the quotient is above the
    * floor, so `q - 1` cannot underflow either.
    * Fractional columns fall back to double floor-division, which is exact
    * while |c| < 2^53 and d < 2^53/|c| half-ULP-wise — fine for any
    * second/milli/microsecond epoch, wrong for nanos (hence the split).
    */
  def floorDivExact(c: Column, d: Long): Column = {
    require(d > 0, s"floorDivExact expects a positive divisor, got $d")
    floorDivExactC(c, lit(d))
  }

  /** Column-divisor floor division, same exact-integer contract as the
    * Long overload; the divisor must be positive (all call sites pass
    * counts/denominators ≥ 1), so the floor correction fires exactly when
    * the remainder is negative.
    */
  private def floorDivExactC(c: Column, d: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    val cl = c.cast(LongType)
    val dl = d.cast(LongType)
    val q = ColumnBridge.toColumn(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        ColumnBridge.toExpr(cl),
        ColumnBridge.toExpr(dl))).cast(LongType)
    q - when(cl % dl < 0, lit(1L)).otherwise(lit(0L))
  }

  private def isIntegral(df: DataFrame, c: String): Boolean = {
    import org.apache.spark.sql.types._
    df.schema(c).dataType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
  }

  private def bucketOf(df: DataFrame, timeCol: String, d: Long): Column =
    if (isIntegral(df, timeCol)) floorDivExact(col(timeCol), d)
    else floor(col(timeCol) / d).cast(LongType)

  /** For each probe row, the single nearest reading within `±band` on a
    * numeric time axis; probes with no reading in band keep nulls
    * (left-join semantics).
    *
    * Algorithm (reference `etl/load/load_fact.py:225-297`, with the
    * `floor(epoch)/B` vs `floor(epoch/B)` bug at `:261` corrected per
    * SURVEY §2.4 J6): bucket both sides by `floor(t/band)`, replicate each
    * probe into buckets {b-1, b, b+1} (explode — cheaper than the
    * reference's two unions), equi-join on bucket, filter `|Δt| <= band`,
    * then take the arg-min per probe. Any reading within ±band of a probe
    * lands in exactly one of the probe's three buckets, so each candidate
    * pair joins exactly once.
    *
    * Scale notes: the equi-join shuffles by bucket (AQE skew-join handles
    * hot buckets); top-1 uses `min_by` over a groupBy — partial
    * aggregation (map-side combine) instead of a full window sort, so the
    * reduce side only sees one row per (probe, partition).
    *
    * Requires: `probe` and `readings` have disjoint column names;
    * `probeId` unique; `tieBreak` makes the reading order total.
    *
    * `legacyEpochBug = true` reproduces the reference's
    * `floor(epoch) / B` reading bucket (`etl/load/load_fact.py:261` — the
    * parentheses bug SURVEY §7.4.1 documents): the reading side buckets to
    * a fractional double, so a reading can only ever land in a probe's
    * integral bucket when its epoch is an exact multiple of `band`, and
    * almost every probe keeps nulls. Off by default; exists only so the
    * divergence from the reference is demonstrable rather than asserted.
    */
  def nearestWithinBand(probe: DataFrame, probeId: String, probeTs: String,
                        readings: DataFrame, readTs: String, band: Long,
                        tieBreak: String,
                        legacyEpochBug: Boolean = false): DataFrame = {
    val rCols = readings.columns.toSeq
    val pBucket = bucketOf(probe, probeTs, band)
    // Legacy mode joins on fractional doubles (that IS the bug); the
    // corrected path keeps compact long keys for the shuffle.
    val keyType = if (legacyEpochBug) "double" else "long"
    val probeKeys = probe.select(col(probeId), col(probeTs))
      .withColumn("__bucket", explode(array(pBucket - 1, pBucket, pBucket + 1)))
      .withColumn("__bucket", col("__bucket").cast(keyType))
    val readBucket =
      if (legacyEpochBug) floor(col(readTs)) / band // the reference's :261
      else bucketOf(readings, readTs, band)
    val readBucketed = readings
      .withColumn("__bucket", readBucket.cast(keyType))
    val dt = abs(col(probeTs) - col(readTs))
    val best = probeKeys.join(readBucketed, Seq("__bucket"))
      .where(dt <= band)
      .groupBy(col(probeId))
      .agg(min_by(struct(rCols.map(col): _*), struct(dt, col(tieBreak))).as("__best"))
    probe.join(best, Seq(probeId), "left")
      .select(probe.columns.toIndexedSeq.map(col) ++ rCols.map(c => col(s"__best.$c").as(c)): _*)
  }

  /** As-of join: for each probe row, the most recent reading at or before
    * the probe's time, per equi-`keys`, looking back at most `horizon`
    * time units; probes with no qualifying reading keep nulls (left-join
    * semantics). The one-sided sibling of [[nearestWithinBand]] and the
    * standard enrichment join of event pipelines ("state as of this
    * event": last price tick, last config change, last session start).
    *
    * Algorithm: bucket both sides by `floor(t/horizon)`; replicate each
    * probe into buckets {b-1, b} (a reading at most `horizon` back is in
    * one of the two); equi-join on (keys, bucket); filter
    * `0 <= Δt <= horizon`; arg-min Δt per probe via `min_by` — partial
    * aggregation, no window sort, so the reduce side sees one candidate
    * per (probe, map partition). The bucketed equi-join is the shape that
    * scales: the shuffle key is (keys, bucket), never a range predicate.
    *
    * Requires: column names disjoint between the two frames except `keys`;
    * `probeId` unique; `tieBreak` (a readings column) makes the reading
    * order total.
    */
  def asOfJoin(probe: DataFrame, probeId: String, probeTs: String,
               readings: DataFrame, readTs: String, horizon: Long,
               keys: Seq[String], tieBreak: String): DataFrame = {
    val rCols = readings.columns.toSeq.filterNot(keys.contains)
    val pBucket = bucketOf(probe, probeTs, horizon)
    val probeKeys = probe
      .select((Seq(col(probeId), col(probeTs)) ++ keys.map(col)): _*)
      .withColumn("__bucket", explode(array(pBucket - 1, pBucket)))
    val readBucketed = readings
      .withColumn("__bucket", bucketOf(readings, readTs, horizon))
    val dt = col(probeTs) - col(readTs)
    val best = probeKeys.join(readBucketed, "__bucket" +: keys)
      .where(dt >= 0 && dt <= horizon)
      .groupBy(col(probeId))
      .agg(min_by(struct(rCols.map(col): _*), struct(dt, col(tieBreak))).as("__best"))
    probe.join(best, Seq(probeId), "left")
      .select(probe.columns.toIndexedSeq.map(col) ++ rCols.map(c => col(s"__best.$c").as(c)): _*)
  }

  /** Range join: match each point row to every `[lo, hi)` range row it
    * falls in. The naive plan for a range predicate is a nested-loop join;
    * this instead buckets points by `floor(p/step)` once and replicates
    * each RANGE row into every bucket it overlaps, so candidates come from
    * a bucket equi-join and the range predicate only re-verifies. With
    * ranges typically numbering thousands and points numbering billions,
    * replicating ranges (not points) is the asymmetry that survives scale;
    * `step` trades range-side replication against per-bucket selectivity.
    */
  def rangeJoin(points: DataFrame, pointCol: String,
                ranges: DataFrame, loCol: String, hiCol: String,
                step: Long): DataFrame = {
    val pB = points
      .withColumn("__bucket", bucketOf(points, pointCol, step))
    // Empty/inverted ranges (lo >= hi) must replicate into NO buckets:
    // Spark's sequence() silently flips to a descending step when
    // start > stop (same pitfall TextOps.wordShingles guards), which here
    // would fabricate bucket rows — or, for wildly inverted dirty data,
    // build a giant array and kill the job. Explode of the empty array
    // drops the row instead.
    // Last overlapped bucket of [lo, hi) = floor((hi-1)/step) for integral
    // bounds (exact for full-range longs), = ceil(hi/step)-1 otherwise.
    val lastBucket =
      if (isIntegral(ranges, hiCol)) floorDivExact(col(hiCol) - 1, step)
      else (ceil(col(hiCol) / step) - 1).cast(LongType)
    val buckets = sequence(bucketOf(ranges, loCol, step), lastBucket)
    val rB = ranges.withColumn("__bucket",
      explode(when(col(loCol) < col(hiCol), buckets)
        .otherwise(array().cast("array<long>"))))
    pB.join(rB, Seq("__bucket"))
      .where(col(pointCol) >= col(loCol) && col(pointCol) < col(hiCol))
      .drop("__bucket")
  }

  // ---------------------------------------------------------------------
  // Per-group top-k / latest
  // ---------------------------------------------------------------------

  /** Top-`k` rows per group by `order` (row_number semantics — ties broken
    * by order columns, so include a unique tiebreaker for determinism).
    *
    * Reference: `etl/load/load_fact.py:278-290` (W2, k=1).
    */
  def topKPerGroup(df: DataFrame, partitionCols: Seq[Column], order: Seq[Column], k: Int): DataFrame = {
    val w = Window.partitionBy(partitionCols: _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w)).where(col("__rn") <= k).drop("__rn")
  }

  /** k=1 fast path of topKPerGroup: the row minimizing the orderable `key`
    * per group via `min_by` over a groupBy. Unlike the window form this
    * partial-aggregates map-side — each map partition emits one candidate
    * row per group instead of shuffling and sorting every row — which is
    * the shape that survives a 100× scale-up (e.g. nearest-centroid
    * assignment over the whole corpus in IVF indexing). `key` must make the
    * order total (include a unique tiebreaker); equivalent to
    * `topKPerGroup(df, groups, keyAscendingOrder, 1)`.
    */
  def top1PerGroup(df: DataFrame, groups: Seq[Column], key: Column): DataFrame = {
    val cols = df.columns.toSeq
    df.groupBy(groups: _*)
      .agg(min_by(struct(cols.map(col): _*), key).as("__best"))
      .select(cols.map(c => col(s"__best.$c").as(c)): _*)
  }

  /** Bounded-heap top-k per group under `(score DESC, id ASC)` — the
    * general-k companion to [[top1PerGroup]] and the scale-correct form of
    * the ANN re-rank windows: TopKPairAgg partial-aggregates map-side
    * (each map partition emits ≤ k 16-byte pairs per group; a row_number
    * window shuffles and sorts the whole candidate set), and the
    * order-exact double↔long key codec (graft.functions.SortKeyF) carries
    * the score through the heap and back bit-for-bit, so results equal
    * `topKPerGroup(df, groups, Seq(score.desc, id.asc), k)` projected to
    * (groups, id, score). Requires a Long id (the heap's tie-break slot).
    *
    * Precondition, ENFORCED (VERDICT r21 item 8): `scoreCol` must be
    * non-NaN and non-null — the descending bijection is not total for NaN
    * (a zero-norm embedding's cosine at corpus scale), and a null score
    * that a desc window would sort last is silently dropped by the heap.
    * A violating row raises at run time instead of silently diverging
    * from the window form; the check is one isnan/isnull branch per row
    * on an already-computed attribute. Output: groupCols ++ (idOut,
    * scoreOut).
    *
    * `dedupIds = true` makes the heap reject bit-identical (score, id)
    * pairs — the exchange-free equivalent of `.distinct()` on the
    * candidate stream when every duplicate carries the same score (ANN
    * multi-assignment: the same (probe, vector) pair reached via two
    * shared inverted lists scores identically both times).
    */
  def topKByScore(df: DataFrame, groupCols: Seq[String], scoreCol: Column,
                  idCol: Column, k: Int,
                  idOut: String, scoreOut: String,
                  dedupIds: Boolean = false): DataFrame = {
    val guarded = nanNullGuard(scoreCol,
      "topKByScore: NaN/null score — SortKeyF's descending " +
        "bijection is not total for NaN and the bounded heap drops nulls a " +
        "window would keep (zero-norm embedding upstream?)")
    df.groupBy(groupCols.map(col): _*)
      .agg(graft.functions.TopKPairAgg.topkPairs(
        graft.functions.SortKeyF.descKey(guarded), idCol, k, dedupIds).as("__tk"))
      .select(groupCols.map(col) :+ explode(col("__tk")).as("__p"): _*)
      .select(groupCols.map(col) :+ col("__p.id").as(idOut) :+
        graft.functions.SortKeyF.descKeyInv(col("__p.ord")).as(scoreOut): _*)
  }

  /** `score` unchanged, or a run-time `raise_error(message)` on a NaN or
    * null value — the one guard every top-k-by-score path shares, so a
    * zero-norm embedding fails loudly on each of them. */
  private[graft] def nanNullGuard(score: Column, message: String): Column =
    when(isnan(score) || score.isNull, raise_error(lit(message))).otherwise(score)

  /** Skew-mitigating equi join: salt the skewed (large) side's key with a
    * random-ish residue derived from a stable row attribute, replicate the
    * build side once per salt value, and join on (key, salt). The hot key's
    * rows spread over `saltFactor` reducers instead of one. Results equal
    * the plain join (every row pairs with exactly one replica). AQE's
    * skew-join handles most cases at runtime; explicit salting is for
    * deterministic layouts or pre-AQE shuffles at the 100 TB scale.
    */
  def saltedJoin(skewed: DataFrame, other: DataFrame, keys: Seq[String],
                 saltFactor: Int, joinType: String = "inner"): DataFrame = {
    val salted = skewed.withColumn("__salt",
      pmod(hash(skewed.columns.toIndexedSeq.map(col): _*), lit(saltFactor)))
    val replicated = other.withColumn("__salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    salted.join(replicated, keys :+ "__salt", joinType).drop("__salt")
  }

  /** Stamp each row with the group-wise first value of `valueCol` under
    * `order` — `first(...).over(partitionBy(...).orderBy(...))`, the
    * reference's ward-code-modernization idiom.
    *
    * Reference: `etl/transform/lfb-cleanse.py:61-66` (W1).
    */
  def stampGroupFirst(df: DataFrame, out: String, valueCol: Column,
                      partitionCols: Seq[Column], order: Seq[Column]): DataFrame =
    df.withColumn(out, first(valueCol).over(Window.partitionBy(partitionCols: _*).orderBy(order: _*)))

  /** Greedy shard packing: walk rows in `orderCol` order accumulating
    * `weightCol`, and assign each row the shard
    * `floor(exclusive_prefix_sum / budget)` — the standard way a training
    * pipeline packs documents into fixed-token-budget output shards while
    * preserving a deterministic document order.
    *
    * The prefix sum is the textbook DISTRIBUTED two-level form, because the
    * naive `sum().over(Window.orderBy(...))` is an unpartitioned window —
    * Spark funnels the whole table through ONE task, the single worst
    * scale anti-pattern available. Instead:
    *   1. `repartitionByRange(orderCol)` range-partitions the rows; the
    *      captured `spark_partition_id()` is then a bucket id that is
    *      MONOTONE in the order key (range partitions are assigned in key
    *      order; AQE may coalesce neighbors, which merges adjacent ranges
    *      and stays monotone).
    *   2. Per-bucket totals form a bucket-count-sized table; the exclusive
    *      bucket offsets come from a window over THAT (thousands of rows
    *      on any cluster, not billions).
    *   3. The within-bucket exclusive prefix is a window PARTITIONED by
    *      bucket, and `offset = bucket_offset + within_prefix` is exact
    *      regardless of where the sampled range boundaries landed.
    * Every shuffle is the range exchange or a keyed window — nothing
    * global. `orderCol` must be unique per row (ties would make any
    * engine's running sum order-dependent); weights must be non-negative
    * (a negative weight raises at runtime — a corrupt offset would
    * silently mis-pack every shard after it) and are TRUNCATED to whole
    * units via `cast(LongType)` (token budgets are integral; callers with
    * fractional costs should pre-round with `ceil`/`round` to choose the
    * direction).
    *
    * Output: input columns plus `shard_off` (the exclusive prefix) and
    * `shard_id`.
    */
  def packByBudget(df: DataFrame, orderCol: String, weightCol: Column,
                   budget: Long, buckets: Int = 0,
                   checkpointDir: Option[String] = None): DataFrame = {
    require(budget > 0, s"packByBudget: budget must be positive, got $budget")
    Seq("pk_bucket", "pk_w", "pk_base", "shard_off", "shard_id").foreach(
      c => require(!df.columns.contains(c),
        s"packByBudget: input already has a reserved column name '$c'"))
    // Default bucket count = the session's shuffle parallelism: the range
    // exchange then has the same fan-out as every other shuffle the caller
    // sized for their cluster (a fixed constant would under-split a large
    // cluster and pay empty-partition task overhead on a small one).
    val nBuckets =
      if (buckets > 0) buckets
      else df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
    // Bucket-cardinality contract: the offsets table below is exactly
    // nBuckets rows and its exclusive-prefix window runs in ONE task.
    // That is the operator's whole design (two-level prefix-sum: the
    // full-width window touches only bucket-count-sized metadata) — so a
    // caller-supplied bucket count past the cap is a mis-sizing the
    // window must refuse, not silently absorb as a corpus-scale
    // single-partition sort.
    val bCap = maxBucketWindowRows(df.sparkSession)
    require(nBuckets <= bCap,
      s"packByBudget: $nBuckets buckets exceeds " +
        s"spark.graft.window.maxBucketRows=$bCap — the exclusive-prefix " +
        "window over the per-bucket offsets runs in one task; size buckets " +
        "to the cluster's shuffle parallelism (the default), or raise the cap")
    // The checkpoint PINS the bucket assignment: the range partitioner's
    // sampled boundaries and spark_partition_id are nondeterministic per
    // execution, and `bucketed` feeds two downstream subtrees (the offsets
    // aggregate and the join) whose pruned plans need not reuse one
    // exchange — without pinning, a row near a sampled boundary could land
    // in bucket k for the offsets pass and k+1 for the join pass, silently
    // corrupting every offset after it. Checkpointing one computed copy
    // makes both branches read identical bucket ids (and is what any
    // multi-consumer stage over nondeterministic output requires). As in
    // Graph.connectedComponents, pass `checkpointDir` on a real cluster:
    // localCheckpoint blocks die with their executor mid-job.
    val sc = df.sparkSession.sparkContext
    checkpointDir.foreach { d =>
      if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(d)
      else if (!sc.getCheckpointDir.exists(_.contains(d)))
        log.warn(s"packByBudget: requested checkpointDir '$d' ignored — " +
          s"session already checkpoints to '${sc.getCheckpointDir.get}'")
    }
    val ranged = df
      .repartitionByRange(nBuckets, col(orderCol))
      .withColumn("pk_bucket", spark_partition_id())
      // Truncate-to-Long is the documented contract. The negative-weight
      // guard lives AGGREGATE-side (below, on the bucket-count-sized
      // offsets table) rather than as a per-row when/raise_error branch:
      // the per-row form sat inside whole-stage codegen on every input row
      // and measurably tripled the gate's runtime at sf0.1, while a
      // min() folded into the already-computed per-bucket aggregate is
      // free and fails the job just as surely before any offset is used.
      .withColumn("pk_w", weightCol.cast(LongType))
    val bucketed =
      if (checkpointDir.isDefined) {
        val cached = ranged.persist()
        val out = cached.checkpoint()
        cached.unpersist()
        out
      } else ranged.localCheckpoint()
    val offsets = bucketed.groupBy(col("pk_bucket"))
      .agg(sum(col("pk_w")).as("pk_total"), min(col("pk_w")).as("pk_min"))
      // A corrupt (negative) weight would silently mis-pack every shard
      // after it; the check rides the offsets aggregate — per-BUCKET rows,
      // not per-input-row — and every offsets row is evaluated for the
      // broadcast, so any negative weight anywhere fails the job loudly.
      .withColumn("pk_base",
        when(col("pk_min") < 0,
          raise_error(concat(lit("packByBudget: negative weight (bucket min "),
            col("pk_min").cast(StringType), lit(")"))))
          .otherwise(coalesce(sum(col("pk_total")).over(
            Window.orderBy(col("pk_bucket"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))))
      .select(col("pk_bucket"), col("pk_base"))
    val within = Window.partitionBy(col("pk_bucket")).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    bucketed
      .join(broadcast(offsets), "pk_bucket")
      .withColumn("shard_off",
        col("pk_base") + coalesce(sum(col("pk_w")).over(within), lit(0L)))
      // Integer floor-division: the earlier `(off - pmod) / budget` form
      // went through Double division, exact only below 2^53 — a 100 TB
      // corpus with byte-granularity weights crosses that and shard ids
      // would silently drift. floorDivExact is pure integer math over the
      // full Long range.
      .withColumn("shard_id", floorDivExact(col("shard_off"), budget))
      .drop("pk_bucket", "pk_w", "pk_base")
  }

  /** Exact heavy hitters (keys with count ≥ `minCount`) via a Count-Min
    * prefilter — the two-phase hot-key detector for 100 TB scans. A naive
    * `groupBy(key).count()` shuffles every distinct key (at corpus scale,
    * billions of cold tail keys nobody asked about); instead:
    *
    *  1. build a CMS of the whole relation with Spark's built-in
    *     `count_min_sketch` aggregate — partial sketches merge map-side,
    *     only depth×width counter grids (a few hundred KB, independent of
    *     key cardinality) cross the wire;
    *  2. re-scan with the sketch bound as a scan-side native expression
    *     (`CmsEstimateF`): CMS never UNDERestimates, so
    *     `estimate >= minCount` keeps every true heavy hitter — the
    *     prefilter has no false negatives, and the cold tail (the
    *     overwhelming majority) never reaches the shuffle;
    *  3. exact `groupBy` count over the surviving candidates, then the
    *     exact threshold drops the CMS's false positives.
    *
    * Result ≡ the naive exact plan (the gate hash-checks this against the
    * oracle's plain GROUP BY/HAVING); only the shuffle volume changes.
    * `eps` trades sketch width for candidate precision: overestimation is
    * ~eps·N over true count w.h.p., so keep eps ≪ minCount/N.
    */
  def heavyHitters(df: DataFrame, keyCol: String, minCount: Long,
                   eps: Double = 1e-4, confidence: Double = 0.99,
                   seed: Int = 42): DataFrame = {
    val exact = df.groupBy(col(keyCol))
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount)
    val sketchRow = df.agg(
      expr(s"count_min_sketch(`$keyCol`, ${eps}d, ${confidence}d, $seed)")).head()
    if (sketchRow.isNullAt(0)) exact // empty relation: nothing to prune
    else {
      val cms = graft.functions.CmsEstimateF.readFrom(sketchRow.getAs[Array[Byte]](0))
      // `count_min_sketch` skips nulls and CmsEstimateF is null-intolerant,
      // so the null-key group (which the naive plan DOES return when heavy)
      // bypasses the prefilter straight to the exact recount — it is one
      // group, so letting it through costs nothing and keeps the ≡ contract.
      df.where(col(keyCol).isNull ||
          graft.functions.CmsEstimateF(col(keyCol), cms) >= minCount)
        .groupBy(col(keyCol)).agg(count(lit(1)).as("cnt"))
        .where(col("cnt") >= minCount)
    }
  }

  /** Differential skew join: route HOT keys around the shuffle entirely,
    * cold keys through the normal shuffle join — the composition of a12's
    * hot-key detection with the broadcast/shuffle split (the mitigation
    * for the key so hot that one reducer gets a meaningful fraction of a
    * 100 TB fact table, where j9-style salting only divides the pile by a
    * constant):
    *
    *  1. detect hot keys exactly via the CMS-prefiltered `heavyHitters`
    *     (sketch-sized traffic, no cold-tail shuffle);
    *  2. the big side splits on broadcast membership of that (small) hot
    *     set — a map-side test, no extra shuffle of the big side;
    *  3. hot big rows join the hot slice of the build side BROADCAST
    *     (hot keys are few by construction; their build rows fit), so the
    *     hottest key's rows never colocate anywhere;
    *  4. cold rows take the ordinary equi join, per-key volume bounded by
    *     `hotMin` on the probe side.
    *
    * Result ≡ `big.join(small, keys, "inner")` row-for-row (the gate
    * hash-checks this against the plain-join oracle); only the routing
    * differs. AQE's skew-join splits oversized PARTITIONS at runtime;
    * this splits a KEY whose single-key volume is itself the problem, a
    * layout AQE cannot fix because equal keys must still meet somewhere.
    */
  def skewSplitJoin(big: DataFrame, small: DataFrame, key: String,
                    hotMin: Long): DataFrame =
    skewSplitJoin(big, small, key,
      heavyHitters(big.select(col(key)), key, hotMin).select(col(key)))

  /** Routing form with a caller-supplied hot-key table — for sessions that
    * already ran the detection pass (a12's gate builds exactly this table):
    * the CMS sketch + candidate recount over the big side is the expensive
    * third of the operator, and a pipeline that detects-then-joins should
    * pay it once, not once per consumer (the queries layer shares it via
    * `InterStage`). `hotKeys` must be one column named `key`, and for the
    * ≡-plain-join contract must be exactly the keys meeting the caller's
    * threshold on `big` (a superset is still correct — just broadcasts
    * more; a subset under-routes hot volume into the shuffle).
    */
  def skewSplitJoin(big: DataFrame, small: DataFrame, key: String,
                    hotKeys: DataFrame): DataFrame = {
    val bigHot = big.join(broadcast(hotKeys), Seq(key), "left_semi")
    val bigCold = big.join(broadcast(hotKeys), Seq(key), "left_anti")
    val smallHot = small.join(broadcast(hotKeys), Seq(key), "left_semi")
    bigHot.join(broadcast(smallHot), Seq(key), "inner")
      .unionByName(bigCold.join(small, Seq(key), "inner"))
  }

  /** The shared bucket-cardinality cap for the two-level prefix-sum
    * operators (packByBudget, bucketedQuantiles, t20's rank): any
    * full-width ordered window in this library runs over a BUCKET table
    * whose row count is the bucketing's fan-out, never the corpus — this
    * cap is where that contract stops being an assumption. Default 2^20:
    * a one-task sort of ≤1M metadata rows is milliseconds; a bucket
    * table past it means the bucketing itself is mis-sized.
    */
  private[graft] def maxBucketWindowRows(spark: SparkSession): Long = {
    val cap = spark.conf
      .get("spark.graft.window.maxBucketRows", (1L << 20).toString).toLong
    require(cap >= 1, s"spark.graft.window.maxBucketRows must be >= 1, got $cap")
    cap
  }

  /** Collects a (bucket, count) table driver-side under the
    * [[maxBucketWindowRows]] contract — the guarded level-2 of the
    * two-level prefix-sum pattern for callers whose bucket table is
    * metadata-sized BY CONSTRUCTION (t20: 33 score buckets). The
    * `limit(cap+1)` bounds the collect itself, so a bucketing expression
    * that drifts corpus-sized refuses loudly instead of either OOMing the
    * driver or (the window form's failure mode) sorting the corpus in one
    * task. Returns (bucketValue as Option, count), unordered — the caller
    * owns the prefix order.
    */
  def collectBucketCounts(bucketCounts: DataFrame,
                          what: String): Seq[(Option[Long], Long)] = {
    val cap = maxBucketWindowRows(bucketCounts.sparkSession)
    val lim = math.min(cap, (Int.MaxValue - 2).toLong).toInt
    val rows = bucketCounts.limit(lim + 1).collect()
    if (rows.length > lim)
      throw new IllegalStateException(
        s"$what: bucket table exceeds spark.graft.window.maxBucketRows=" +
          s"$cap rows — the bucketing is producing corpus-scale " +
          "cardinality, not metadata; coarsen it or raise the cap")
    rows.toSeq.map(r =>
      (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getLong(1)))
  }

  /** Exact order statistics of a Long column WITHOUT a global sort — the
    * scale path for p50/p99/p999 over a corpus-sized (or single-huge-
    * group) relation where `percentile`/a full-sort window would funnel
    * every row through one partition's sort (a11's accepted cost for
    * many-small-groups; fatal for one 100 TB group). Two-level selection:
    *
    *  1. histogram: `groupBy(value div bucketWidth).count` — partial
    *     aggregation map-side, output rows = value range / bucketWidth
    *     (thousands, independent of corpus size);
    *  2. exclusive prefix sum over the TINY histogram (driver-scale
    *     window) locates, for each requested quantile, the one bucket
    *     containing its 0-based target rank `(n-1)·num div den` and the
    *     rank's offset within it;
    *  3. one broadcast semi-join pulls ONLY the target buckets' rows back
    *     from the scan — n/buckets rows per quantile, not n — and a
    *     within-bucket sort of that sliver selects the value.
    *
    * Equal values may straddle the selection arbitrarily: the rank's
    * VALUE is order-independent under ties, so the result is exact and
    * deterministic. Quantile ranks are pure integer math (`num`/`den`),
    * never a double multiply that could round across a rank boundary.
    * Returns one row per requested quantile: (q, rank, value).
    */
  def bucketedQuantiles(df: DataFrame, valueCol: String, bucketWidth: Long,
                        qs: Seq[(String, Long, Long)]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val b0 = df.select(col(valueCol).as("__v"),
      floorDivExact(col(valueCol), bucketWidth).as("__bkt"))
    // Bucket-cardinality contract (maxBucketWindowRows): the histogram
    // must be metadata-sized — its prefix window below runs in one task.
    // Too fine a bucketWidth is AUTO-COARSENED rather than refused,
    // because here (uniquely among the prefix-sum ops) the result is
    // exact for ANY width: the histogram only LOCATES each target rank's
    // bucket, selection happens inside it. Coarsening by f re-buckets
    // the cached histogram itself — floorDiv(floorDiv(v,w),f) ==
    // floorDiv(v,w·f) for w,f>0 — so no second corpus aggregation; the
    // price is a ~f× larger step-3 sliver pull, logged.
    val cap = maxBucketWindowRows(spark)
    val hist0 = b0.groupBy(col("__bkt")).agg(count(lit(1)).as("__bc")).persist()
    val nb = hist0.count()
    val f = if (nb <= cap) 1L else (nb + cap - 1) / cap
    if (f > 1L)
      log.warn(s"bucketedQuantiles: bucketWidth=$bucketWidth yields $nb " +
        s"buckets > spark.graft.window.maxBucketRows=$cap — auto-coarsening " +
        s"x$f (result exact either way; the per-quantile sliver pull grows ~x$f)")
    val hist =
      if (f == 1L) hist0
      else hist0.groupBy(floorDivExact(col("__bkt"), f).as("__bkt"))
        .agg(sum(col("__bc")).as("__bc"))
    val offs = hist.withColumn("__off", coalesce(
        sum(col("__bc")).over(Window.orderBy(col("__bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__n", sum(col("__bc")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    val targets = offs.crossJoin(
        qs.toDF("q", "__num", "__den").hint("broadcast"))
      .withColumn("rank", floorDivExactC((col("__n") - 1) * col("__num"), col("__den")))
      .where(col("rank") >= col("__off") && col("rank") < col("__off") + col("__bc"))
      .select(col("q"), col("rank"), col("__bkt"), col("__off"))
    // Exactly one row per requested quantile: collecting it (a) releases
    // the cached histogram deterministically before the second corpus
    // pass and (b) hands the join a local relation — the final plan is
    // scan + broadcast equi-join + per-quantile sliver window, nothing else.
    val tRows = targets.collect()
    hist0.unpersist()
    val tDf = spark.createDataFrame(
      java.util.Arrays.asList(tRows: _*), targets.schema)
    val b = if (f == 1L) b0
      else b0.withColumn("__bkt", floorDivExact(col("__bkt"), f))
    val wb = Window.partitionBy(col("q")).orderBy(col("__v"))
    b.join(broadcast(tDf), "__bkt")
      .withColumn("__rn", row_number().over(wb) - 1 + col("__off"))
      .where(col("__rn") === col("rank"))
      .select(col("q"), col("rank"), col("__v").as("value"))
  }

  /** Z-order (Morton) clustering — the real multi-column data-skipping
    * layout behind OPTIMIZE ... ZORDER BY (K5's single-dimension
    * `repartitionByRange` + `sortWithinPartitions` emulation upgraded):
    * each column is linearly bucketed into `2^bitsPerCol` ranks
    * (`width_bucket` over a one-scan global min/max), the rank bits are
    * interleaved into one Morton key, and the frame is range-partitioned +
    * sorted on that key — so EVERY clustered column's per-file min/max
    * span shrinks to ~files^(-1/dims) of its range, and a predicate on ANY
    * of them skips most files via parquet footer stats (single-column sort
    * narrows only its own dimension; the second column spans the full
    * range in every file). Pure Column composition: `width_bucket` +
    * shift/mask chains, all codegen'd; the only driver action is the
    * min/max scalar scan (the documented two-pass idiom).
    *
    * Contract: numeric columns (linear bucketing needs an order-preserving
    * numeric map; z-order a string via a numeric surrogate first). Nulls
    * rank 0 — they cluster together at the curve's origin, explicitly, not
    * by accident of null-skipping `greatest`. Linear bucketing assumes
    * roughly uniform dimensions (TPC-H keys are); a heavily skewed column
    * collapses to a handful of linear buckets (one bucket holds most rows
    * — no rank spread, no clustering on that dimension), so
    * `quantile = true` computes EQUAL-MASS bucket boundaries per column
    * (one `approxQuantile` sketch pass over all columns, the same
    * range-partitioner idea Delta's OPTIMIZE uses) and ranks each value by
    * counting boundaries ≤ it — a codegen'd `aggregate` over the ≤ n−1
    * boundary literals, same interleave downstream. Quantile mode wants
    * modest `bitsPerCol` (6 → 64 buckets ≈ 63 comparisons/row/col at the
    * one-off OPTIMIZE write; span narrowing saturates well below file
    * counts anyway). `bitsPerCol · cols.size ≤ 62` keeps the key in one
    * Long.
    *
    * `curve` picks the space-filling curve the ranks are linearized on:
    * `"morton"` (default) is the bit interleave above — pure Column
    * shift/mask algebra, zero extra machinery; `"hilbert"` routes the SAME
    * ranks through the native `HilbertIndexF` expression (Skilling
    * transform, codegen'd). Hilbert's unit-step property (consecutive
    * indices are grid-adjacent; Morton jumps across the grid at every
    * power-of-two seam) makes each range-partitioned file a more compact
    * blob, so per-file min/max footer spans — and files touched per point
    * lookup — are at least as tight as Morton's on the same ranks
    * (`ZorderSpec` measures the gap; `HilbertSpec` proves the curve
    * properties). Same contract either way: only the linearization of the
    * already-computed ranks changes.
    */
  def zorderBy(df: DataFrame, cols: Seq[String], numPartitions: Int,
               bitsPerCol: Int = 8, quantile: Boolean = false,
               curve: String = "morton"): DataFrame = {
    require(cols.size >= 2, "zorderBy needs >= 2 columns (one column: just sort)")
    require(curve == "morton" || curve == "hilbert",
      s"""curve must be "morton" or "hilbert", got "$curve"""")
    // 1..30: `1 << 31` overflows Int and width_bucket with a non-positive
    // count returns NULL — an all-null key would silently NOT cluster.
    require(bitsPerCol >= 1 && bitsPerCol <= 30,
      s"bitsPerCol must be in [1, 30], got $bitsPerCol")
    require(bitsPerCol * cols.size <= 62,
      s"bitsPerCol ($bitsPerCol) x ${cols.size} cols exceeds one Long")
    val n = 1 << bitsPerCol
    require(!quantile || bitsPerCol <= 10,
      s"quantile mode ranks by scanning ${n - 1} boundary literals per row " +
        s"— bitsPerCol > 10 is past any useful file count; use linear mode")
    val dd = df.select(cols.map(c => col(c).cast("double").as(c)): _*)
    // rank expressions below are applied to `df`, so re-cast inline
    def v(c: String): Column = col(c).cast("double")
    // Per-column rank in [0, n): equal-WIDTH (width_bucket over one
    // min/max scan) or equal-MASS (count of quantile boundaries ≤ v).
    val ranks: Seq[Column] =
      if (quantile) {
        val probs = (1 until n).map(_.toDouble / n).toArray
        // one sketch pass for every column; relativeError 1/(4n) keeps
        // adjacent boundaries from swapping. Nulls are ignored by the
        // sketch and ranked 0 below, same decree as linear mode.
        val bs = dd.stat.approxQuantile(cols.toArray, probs, 1.0 / (4 * n))
        cols.zip(bs).map { case (c, raw) =>
          // distinct: a skewed column repeats boundaries (one value holds
          // >1/n of the mass); duplicates would double-count in the rank
          val bounds = raw.distinct.sorted
          if (bounds.isEmpty) lit(0L) // empty/all-null frame
          else {
            val rank = aggregate(lit(bounds), lit(0L),
              (acc, b) => acc + when(v(c) >= b, 1L).otherwise(0L))
            when(col(c).isNull, 0L).otherwise(rank)
          }
        }
      } else {
        val aggs = cols.flatMap(c => Seq(min(col(c)).as(s"lo_$c"),
          max(col(c)).as(s"hi_$c")))
        val mm = dd.agg(aggs.head, aggs.tail: _*).head()
        cols.map { c =>
          val lo = mm.getAs[Double](s"lo_$c"); val hi = mm.getAs[Double](s"hi_$c")
          // degenerate range (constant column / empty frame): rank 0 for all
          if (mm.isNullAt(mm.fieldIndex(s"lo_$c")) || hi <= lo) lit(0L)
          else {
            // width_bucket: [1, n] in-range, n+1 at v == hi; −1 then clamp
            // to [0, n−1]. when(), NOT greatest/least: those skip nulls and
            // would rank a null row by accident — nulls rank 0 by decree.
            val wb = width_bucket(v(c), lit(lo), lit(hi), lit(n)) - 1
            when(col(c).isNull, 0L)
              .otherwise(when(wb < 0, 0L).otherwise(when(wb > n - 1, (n - 1).toLong)
                .otherwise(wb.cast("long"))))
          }
        }
      }
    val zkey =
      if (curve == "hilbert")
        graft.functions.HilbertIndexF.hilbertIndex(ranks, bitsPerCol)
      else cols.indices.map { ci =>
        val rank = ranks(ci)
        (0 until bitsPerCol).map(i =>
          shiftleft(shiftright(rank, i).bitwiseAND(lit(1L)), i * cols.size + ci))
          .reduce(_ bitwiseOR _)
      }.reduce(_ bitwiseOR _)
    df.withColumn("__zkey", zkey)
      .repartitionByRange(numPartitions, col("__zkey"))
      .sortWithinPartitions(col("__zkey"))
      .drop("__zkey")
  }

  /** The clustered layout of every catalog load here, the stand-in for
    * the reference's Z-ORDER (`etl/load/load_*_dim.py`) and clustered fact
    * write (`etl/load/load_fact.py:392-405`): range-partition on
    * `(partitionCol ++ clusterCols).distinct`, then sort within partitions
    * by the same keys. The caller owns the partition count and the sink.
    *
    * The partition column LEADS the range key: each write task then holds
    * a contiguous partition slice — one or two open parquet writers per
    * task instead of one per partition dir (the 16-task × 40-dir writer
    * fan-out was the measured spill term of the 10× fact build, SCALE.md
    * r14) — and the committer's required ordering on the partition column
    * is already met, so it does not re-sort each task's rows and the
    * cluster order survives inside every dir, as Delta's OPTIMIZE ZORDER
    * clusters WITHIN each partition. Deliberately NOT [[zorderBy]]'s
    * Morton interleave: a global z-key would fan every task out across
    * every dir, the in-partition sort already gives each file a tight span
    * on the leading cluster column (the fact table's lookup pattern), and
    * the Morton map needs numeric keys where the fact's is a DATE.
    */
  def clustered(df: DataFrame, partitionCol: Option[String], clusterCols: Seq[String],
                partitions: Int): DataFrame = {
    val keys = (partitionCol.toSeq ++ clusterCols).distinct.map(col)
    df.repartitionByRange(partitions, keys: _*).sortWithinPartitions(keys: _*)
  }

  /** OPTIMIZE-style compaction of a partitioned table into a SINGLE
    * cluster set — the priced remedy for the sliced fact build's k
    * range-clustered appends (SCALE.md r17). One job re-runs the
    * [[clustered]] layout over the whole table (reference: `OPTIMIZE ...
    * ZORDER BY`, `etl/load/load_fact.py:403-405`) into a fresh directory —
    * never in place: Spark cannot read and overwrite one path in a job,
    * and the rewrite must be atomic-swappable like Delta's OPTIMIZE
    * commit. Pass a catalog table's DataFrame when there is one: a path
    * read re-INFERS the partition column's type from the dir names.
    * Returns the row count; the partition count is row-sized unless
    * `partitions` pins it.
    */
  def compactClustered(df: DataFrame, dstDir: String,
                       partitionCol: String, clusterCols: Seq[String],
                       partitions: Option[Int] = None): Long = {
    val n = df.count()
    clustered(df, Some(partitionCol), clusterCols, partitions.getOrElse(rowSizedPartitions(n)))
      .write.mode("overwrite").partitionBy(partitionCol).parquet(dstDir)
    n
  }

  /** The local directories Spark's shuffle sort-spill lands in, resolved
    * with the SAME priority Spark's own `Utils.getConfiguredLocalDirs`
    * uses at context startup: `LOCAL_DIRS` — honored ONLY inside a YARN
    * container (Spark's `isRunningInYarnContainer` gate is the
    * `CONTAINER_ID` env var; a stray `LOCAL_DIRS` in local mode names
    * dirs Spark never spills to) — then `SPARK_LOCAL_DIRS`, then
    * `spark.local.dir` from the CONTEXT conf (fixed at startup — a
    * runtime `spark.conf.set` does not move where Spark actually spills,
    * so the guard must not watch it either), then `java.io.tmpdir`.
    * If every configured dir is missing on this machine the guard must
    * not silently narrow to nothing: warn and fall back to
    * `java.io.tmpdir` (where Spark itself would fail loudly long before
    * the guard matters). Shared by the compaction scratch guard and
    * `Probe compact`'s trough sampler so both watch the disks spill really
    * lands on.
    */
  private[graft] def spillDirs(spark: SparkSession): Seq[java.io.File] =
    spillDirsFrom(resolveSpillConf(k => sys.env.get(k),
      spark.sparkContext.getConf.getOption("spark.local.dir")))

  /** Env/conf priority for [[spillDirs]], pure for spec'ing: `LOCAL_DIRS`
    * counts only alongside `CONTAINER_ID` (Spark's in-YARN-container
    * signal), matching `Utils.getConfiguredLocalDirs`.
    */
  private[graft] def resolveSpillConf(env: String => Option[String],
                                      contextLocalDir: Option[String]): String =
    env("LOCAL_DIRS").filter(_ => env("CONTAINER_ID").isDefined)
      .orElse(env("SPARK_LOCAL_DIRS"))
      .orElse(contextLocalDir)
      .getOrElse(System.getProperty("java.io.tmpdir"))

  /** Parse + the empty-set fallback for [[spillDirs]]: when no configured
    * dir exists on this machine, warn and watch `java.io.tmpdir` rather
    * than silently narrowing the scratch guard to the table's partition
    * alone.
    */
  private[graft] def spillDirsFrom(conf: String): Seq[java.io.File] = {
    val parsed = parseSpillDirs(conf)
    if (parsed.nonEmpty) parsed
    else {
      log.warn(s"spillDirs: no configured local dir exists ('$conf') — " +
        "falling back to java.io.tmpdir so the scratch guard keeps a " +
        "spill-side term instead of silently watching only the table's " +
        "partition")
      parseSpillDirs(System.getProperty("java.io.tmpdir"))
    }
  }

  /** Comma-list parsing for [[spillDirs]], filtered to dirs that exist —
    * a missing path's `getUsableSpace` reads 0 and would poison any
    * free-space minimum taken over the set.
    */
  private[graft] def parseSpillDirs(conf: String): Seq[java.io.File] =
    conf.split(',').map(_.trim).filter(_.nonEmpty)
      .map(new java.io.File(_)).filter(_.isDirectory).toSeq

  /** Mass-weighted files touched per point lookup on `lookupCol` — the
    * read-locality currency the clustering operators are adjudicated in
    * (ZorderSpec, `Probe compact`, SCALE.md): per-file [min, max] spans of
    * `lookupCol` (within each row's own `partitionCol` dir when given —
    * partition pruning already bounds a lookup there), probed with every
    * row's own value. 1.0 = perfect tiling; k overlapping cluster sets
    * read ≈ k. ONE implementation on purpose: probe numbers and spec
    * assertions must stay comparable.
    */
  private[graft] def filesPerLookup(df: DataFrame, lookupCol: String,
                                    partitionCol: Option[String] = None): Double = {
    val keys = partitionCol.map(p => col(p).as("__p")).toSeq :+
      input_file_name().as("__f")
    val stats = df.groupBy(keys: _*)
      .agg(min(col(lookupCol)).as("__mn"), max(col(lookupCol)).as("__mx"))
    val probe = df.select(partitionCol.map(p => col(p).as("__p2")).toSeq :+
      col(lookupCol).as("__v"): _*)
    val span = col("__v") >= col("__mn") && col("__v") <= col("__mx")
    val cond = partitionCol.fold(span)(_ => col("__p2") === col("__p") && span)
    probe.join(broadcast(stats), cond).count().toDouble / df.count()
  }

  /** SCD type-2 change compression — the ONE definition behind both the
    * batch `scd2_user_history` gate and the streaming history maintenance
    * (`EventStreams.scd2Ingest`), so the two cannot diverge. Input columns:
    * `(user_id, event_id, tus, tier)`; per user, ordered by `(tus,
    * event_id)`, rows whose `tier` differs (null-safe `<=>`) from their
    * predecessor open a validity interval; `valid_to_us` is the next
    * change's start and the open interval is `is_current`. Both windows
    * share the user_id partitioning — one shuffle.
    *
    * `carry` marks rows that are EXISTING segment anchors being re-fed
    * through compression (the incremental merge): they are kept
    * unconditionally, because an anchor has no predecessor in the re-fed
    * frame — the plain change test would drop a carried null-tier anchor
    * (`null <=> null`) and silently erase a live segment.
    * `anchor_eid` (the change event's id) rides along so a kept segment
    * can be re-fed deterministically; batch consumers drop it.
    */
  def scd2Compress(ev: DataFrame, carry: Option[Column] = None): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
    val change = !(lag(col("tier"), 1).over(w) <=> col("tier"))
    ev.withColumn("__keep", carry.map(_ || change).getOrElse(change))
      .where(col("__keep"))
      .select(col("user_id"), col("tier"), col("tus").as("valid_from_us"),
        col("event_id").as("anchor_eid"),
        lead(col("tus"), 1).over(w).as("valid_to_us"),
        lead(col("tus"), 1).over(w).isNull.cast("int").as("is_current"))
  }

  /** Incremental SCD2 merge: prior history + a newer batch of events →
    * the history a full recompute over all underlying events would
    * produce, PROVIDED the batch is in per-user event order relative to
    * the history (enforced by the ingest seam's `seen` watermark — see
    * `EventStreams.scd2Ingest`). Prior OPEN segments re-enter compression
    * as their anchor events, carried unconditionally (a carried anchor
    * has no predecessor in the re-fed frame; the plain change test would
    * drop a null-tier one); closed segments are immutable and pass
    * through. The algebra: under in-order arrival, every event absorbed
    * into a segment was a non-change, so the anchor events + new batch
    * reproduce exactly the change structure of the full stream —
    * `Scd2MergeSpec` proves merge ∘ split ≡ single-pass compression on
    * randomized streams for any cut count.
    */
  def scd2Merge(prevSegs: DataFrame, ev: DataFrame): DataFrame = {
    val open = prevSegs.where(col("is_current") === 1)
      .select(col("user_id"), col("anchor_eid").as("event_id"),
        col("valid_from_us").as("tus"), col("tier"),
        lit(true).as("__carry"))
    val merged = scd2Compress(
      open.unionByName(ev.withColumn("__carry", lit(false))),
      Some(col("__carry")))
    prevSegs.where(col("is_current") === 0).unionByName(merged)
  }

  // ---------------------------------------------------------------------
  // Incremental rollup maintenance (algebraic aggregate states)
  // ---------------------------------------------------------------------

  /** Per-group algebraic aggregate STATE — (n, sum_v, min_v, max_v) per
    * value column — the mergeable representation behind incremental
    * materialized-view maintenance: each ingest batch reduces to a
    * keys-sized state table (map-side partial agg, one shuffle on the
    * group keys), and `mergeAggStates` folds any number of batch states
    * into the rollup a full recompute would produce. At 100 TB the
    * maintained view never re-reads history: per-batch cost is
    * O(batch) + a keys-sized merge, and every component is algebraic
    * (count/sum re-sum, min/max re-min/max), so the merge is exact —
    * derived measures come out of the final state (avg(v) = sum_v/nn_v;
    * nn_v counts NON-NULL values, n counts rows — the distinction that
    * makes the avg derivation correct for nullable measures).
    * Integer-valued inputs keep the identity bit-exact; float sums merge
    * associatively only up to rounding, same as any re-aggregation.
    */
  def aggState(df: DataFrame, keys: Seq[String],
               valCols: Seq[String]): DataFrame = {
    require(valCols.nonEmpty, "aggState needs at least one value column")
    val aggs = count(lit(1)).as("n") +: valCols.flatMap(v => Seq(
      count(col(v)).as(s"nn_$v"),
      sum(col(v)).as(s"sum_$v"), min(col(v)).as(s"min_$v"),
      max(col(v)).as(s"max_$v")))
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Fold batch states from `aggState` (same keys + value columns) into
    * the state a single pass over the concatenated batches would emit.
    * Associative and commutative, so maintenance order never matters.
    * `valCols` is explicit, same as `aggState` — inferring measures from
    * column-name prefixes would misclassify a key that happens to start
    * with `sum_`.
    */
  def mergeAggStates(states: Seq[DataFrame], keys: Seq[String],
                     valCols: Seq[String]): DataFrame = {
    require(states.nonEmpty, "mergeAggStates needs at least one state")
    require(valCols.nonEmpty, "mergeAggStates needs at least one value column")
    val st = states.reduce(_.unionByName(_))
    val aggs = sum(col("n")).as("n") +: valCols.flatMap(v => Seq(
      sum(col(s"nn_$v")).as(s"nn_$v"),
      sum(col(s"sum_$v")).as(s"sum_$v"), min(col(s"min_$v")).as(s"min_$v"),
      max(col(s"max_$v")).as(s"max_$v")))
    st.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }
}
