package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.TextOps

/** Structured Streaming over the documents table: the ingest-time near-dup
  * screen — the streaming twin of the batch d8 gate, and the shape a
  * production training-corpus ingest actually runs (each arriving batch is
  * checked against everything already accepted, BEFORE it lands). Every
  * ingest here runs on the `Landings` recipe, which owns exactly-once.
  */
object DocStreams {

  /** documents.parquet schema (file stream sources need it declared). */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming incremental near-dup dedup — d8's production twin. Each
    * micro-batch of documents:
    *   1. computes 60-bit SimHash signatures with the SAME builder the
    *      batch path uses (TextOps.simhashAggRows — bit-identical),
    *   2. flags docs within hamming `maxHamming` of the history via the
    *      SAME 9-band pigeonhole one-sided equi-join as batch d8
    *      (TextOps.simhashBands60; complete for hamming <= 8) — per-batch
    *      cost tracks the batch × band occupancy in history, never a
    *      corpus rescan, and the band key is the shuffle key,
    *   3. appends its signatures to the history table and its flags to
    *      the flag log, both as `Landings` batches; the screen reads only
    *      history batches committed below its own id.
    *
    * History semantics match batch d8: EVERY screened signature enters
    * history (flagged or not) — the screen marks duplicates, the corpus
    * prune downstream decides what to drop — so a later doc near-dup of an
    * already-flagged one is still caught.
    *
    * At 100 TB the history table is the pre-materialized band index an
    * ingest pipeline keeps warm; `historyDir`/`flagsDir`/`checkpointDir`
    * live on durable storage (HDFS/S3) and the signature rows are ~16
    * bytes/doc — the screen never touches the text after step 1.
    */
  def incrementalDedup(spark: SparkSession, srcDir: String,
                       historyDir: String, flagsDir: String,
                       checkpointDir: String, maxHamming: Int = 8): Unit =
    Landings.each(spark, docSchema, srcDir, checkpointDir) { (batch, batchId) =>
      // two consumers (flags + history append) — cache so the signature
      // aggregate runs once, released before the batch commits
      val sigs = TextOps.simhashAggRows(batch, "doc_id", "text")
        .withColumnRenamed("simhash", "sh")
        .persist()
      val flags = Landings.committed(spark, historyDir, below = batchId) match {
        case None =>
          sigs.select(col("doc_id"), lit(false).as("is_dup_of_history"))
        case Some(h) =>
          val hist = h.select(col("doc_id"), col("sh"))
          val dupIds = TextOps.simhashBands60(sigs, "doc_id", "sh").as("f")
            .join(TextOps.simhashBands60(hist, "doc_id", "sh").as("h"),
              col("f.bidx") === col("h.bidx") && col("f.bval") === col("h.bval"))
            .where(bit_count(col("f.sh").bitwiseXOR(col("h.sh"))) <= maxHamming)
            .select(col("f.doc_id")).distinct()
            .withColumn("dup", lit(true))
          sigs.join(dupIds, Seq("doc_id"), "left")
            .select(col("doc_id"),
              coalesce(col("dup"), lit(false)).as("is_dup_of_history"))
      }
      try {
        flags.write.mode("overwrite").parquet(s"$flagsDir/batch=$batchId")
        sigs.write.mode("overwrite").parquet(s"$historyDir/batch=$batchId")
      } finally sigs.unpersist()
    }

  /** Streaming benchmark decontamination — the ingest-time twin of the
    * batch x1/x1b gates: every arriving batch is checked for eval-set
    * 3-gram overlap BEFORE it lands, so contaminated documents never
    * enter the corpus (the batch pass is the retroactive sweep; this is
    * the front door). The eval index is TRAINED OFFLINE and passed in
    * (distinct gram hashes of the benchmark suite — the same
    * statistic/decision split as `qualityMixtureIngest`'s thresholds):
    *   1. a Bloom prefilter over the eval grams builds once per run
    *      (x1b's 100 TB shape — ~10 bits/key, 50-100x smaller than the
    *      key set, probed scan-side by the codegen'd native
    *      `BloomMightContainF` so ~99% of grams never shuffle),
    *   2. each micro-batch extracts grams with the SAME builder the batch
    *      gates use (`TextOps.shingleRows` — bit-identical hashes),
    *   3. the exact join on Bloom survivors removes false positives, so
    *      per-doc flags provably equal x1's exact semi-join semantics,
    *   4. flags land as a `Landings` batch.
    */
  def decontaminateIngest(spark: SparkSession, srcDir: String,
                          evalGrams: DataFrame, flagsDir: String,
                          checkpointDir: String): Unit = {
    val ev = evalGrams.select(col("s")).distinct().persist()
    val bloom = ev.stat.bloomFilter("s", math.max(ev.count(), 1L), 0.01)
    try Landings.each(spark, docSchema, srcDir, checkpointDir) { (batch, batchId) =>
      val grams = TextOps.shingleRows(batch, "doc_id", "text")
      val hits = grams
        .where(graft.functions.BloomMightContainF(col("s"), bloom))
        .join(ev, "s")
        .groupBy("doc_id").agg(count(lit(1)).as("c"))
      grams.select(col("doc_id"), col("n")).distinct()
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n").cast("long").as("n_shingles"),
          coalesce(col("c"), lit(0L)).as("n_contaminated"),
          (coalesce(col("c"), lit(0L)).cast("double") / col("n"))
            .as("contamination_frac"),
          (coalesce(col("c"), lit(0L)) > 0).as("is_contaminated"))
        .write.mode("overwrite").parquet(s"$flagsDir/batch=$batchId")
    } finally { ev.unpersist(); () }
  }

  /** Streaming quality screen + mixture selection — the ingest-time twin
    * of tp1's middle stages. Each micro-batch runs the SAME per-row
    * functions the batch manifest uses (`TextOps.qualityScreen` →
    * `TextOps.mixtureSelect`): both are projections/filters with no
    * cross-row state, so batch and stream agree bit-for-bit by
    * construction — the spec asserts it anyway. The corpus-global piece
    * (the per-language threshold table) is TRAINED OFFLINE and passed in:
    * the production split between a periodically-refreshed statistic and
    * a map-only per-row decision at ingest. Accepted rows land as a
    * `Landings` batch.
    */
  def qualityMixtureIngest(spark: SparkSession, srcDir: String,
                           thresholds: DataFrame, acceptDir: String,
                           checkpointDir: String): Unit =
    Landings.each(spark, docSchema, srcDir, checkpointDir) { (batch, batchId) =>
      TextOps.mixtureSelect(TextOps.qualityScreen(batch), thresholds)
        .write.mode("overwrite").parquet(s"$acceptDir/batch=$batchId")
    }
}
