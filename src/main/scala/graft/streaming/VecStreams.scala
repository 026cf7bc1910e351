package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.VectorOps
import graft.queries.VectorQueries

/** Structured Streaming over the embeddings table: the ingest-time
  * SEMANTIC near-dup screen — the streaming twin of the batch e11 gate,
  * as DocStreams.incrementalDedup is to d8. Arriving vectors are checked
  * for cosine near-duplicates against everything already accepted BEFORE
  * they land — the shape a production embedding-corpus ingest runs.
  */
object VecStreams {

  /** embeddings.parquet schema (file stream sources need it declared). */
  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Streaming incremental semantic dedup — e11's production twin. Each
    * micro-batch of embeddings:
    *   1. computes the three MaxPlanes-wide sign-LSH buckets and the L2
    *      norm with the SAME builders the batch path uses
    *      (VectorOps.lshBucket over VectorQueries.planeInts* — so the
    *      stored index is bit-identical to normedBuckets),
    *   2. flags vectors with any history vector at cosine >= simThreshold
    *      via the same one-sided three-table multiprobe as batch e11:
    *      the LSH width sizes from the HISTORY count (the index being
    *      probed), candidates come from a bucket equi-join (the shuffle
    *      key), and the exact-cosine verify runs on candidates only,
    *   3. appends its bucket/norm rows to the history table and its
    *      flags to the flag log, both as `Landings` batches; the screen
    *      reads only history batches committed below its own id.
    *
    * Storing the FULL MaxPlanes-wide buckets is what lets the screen
    * widen its active plane count as history grows — the same
    * query-time masking e2/e3 use — without ever reindexing history.
    * At 100 TB the history table is the warm LSH index of the accepted
    * corpus; the screen is approximate exactly as e3 is (the measured
    * recall knobs in SCALE.md apply unchanged).
    */
  def semanticIngest(spark: SparkSession, srcDir: String,
                     historyDir: String, flagsDir: String,
                     checkpointDir: String, simThreshold: Double = 0.4): Unit =
    Landings.each(spark, embSchema, srcDir, checkpointDir) { (batch, batchId) =>
      // two consumers (screen + history append): cache so the 48
      // hyperplane dots per vector run once, released before commit
      val sigs = batch.select(col("vec_id"), col("embedding"))
        .withColumn("bucket",
          VectorOps.lshBucket(col("embedding"), VectorQueries.planeInts))
        .withColumn("bucket2",
          VectorOps.lshBucket(col("embedding"), VectorQueries.planeInts2))
        .withColumn("bucket3",
          VectorOps.lshBucket(col("embedding"), VectorQueries.planeInts3))
        .withColumn("norm", VectorOps.l2Norm(col("embedding")))
        .persist()
      val flags = Landings.committed(spark, historyDir, below = batchId) match {
        case None =>
          sigs.select(col("vec_id"), lit(false).as("is_semdup_of_history"))
        case Some(hist) =>
          val planes = VectorQueries.adaptivePlanes(hist.count())
          val masks = VectorQueries.pairMasks(planes,
            VectorQueries.flipRadius(planes))
          val bmask = lit((1L << planes) - 1)
          def candIds(bcol: String) = {
            val probes = sigs.select(col("vec_id").as("q_id"),
              explode(array(masks.map(m =>
                col(bcol).bitwiseAND(bmask).bitwiseXOR(lit(m))): _*)).as("mb"))
            val hb = hist.select(col("vec_id"),
              col(bcol).bitwiseAND(bmask).as("mb"))
            probes.join(hb, Seq("mb"))
              .select(col("q_id"), col("vec_id").as("h_id"))
          }
          val cand = candIds("bucket")
            .unionByName(candIds("bucket2"))
            .unionByName(candIds("bucket3"))
          val dupIds = cand
            .join(sigs.select(col("vec_id"), col("embedding"), col("norm")).as("x"),
              col("q_id") === col("x.vec_id"))
            .join(hist.select(col("vec_id"), col("embedding"), col("norm")).as("y"),
              col("h_id") === col("y.vec_id"))
            .where((VectorOps.dotD(col("x.embedding"), col("y.embedding")) /
              (col("x.norm") * col("y.norm"))) >= simThreshold)
            .select(col("q_id").as("vec_id")).distinct()
            .withColumn("dup", lit(true))
          sigs.select(col("vec_id")).join(dupIds, Seq("vec_id"), "left")
            .select(col("vec_id"),
              coalesce(col("dup"), lit(false)).as("is_semdup_of_history"))
      }
      try {
        flags.write.mode("overwrite").parquet(s"$flagsDir/batch=$batchId")
        sigs.write.mode("overwrite").parquet(s"$historyDir/batch=$batchId")
      } finally sigs.unpersist()
    }
}
