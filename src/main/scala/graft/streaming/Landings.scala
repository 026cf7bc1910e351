package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType
import org.apache.hadoop.fs.Path

/** The one landing recipe the micro-batch ingests share (DocStreams,
  * VecStreams, EventStreams' rollup and scd2 twins).
  *
  * Exactly-once across kill-and-restart without a transactional sink:
  *   - `each` runs one AvailableNow query over the landing zone; its
  *     checkpoint's file log pins which source files form which batch id,
  *     so a batch re-executed after a crash sees the same rows;
  *   - a body writes its output to `<dir>/batch=<id>` in OVERWRITE mode,
  *     so a re-executed batch replaces its own partial output instead of
  *     duplicating it;
  *   - a batch counts as written only when Spark's job-commit marker
  *     `_SUCCESS` is in its directory. FileOutputCommitter creates
  *     `batch=<id>` (holding only `_temporary`) before the job commits, so
  *     a crash mid-write leaves a directory that is not a batch. Readers go
  *     through `committedIds`/`committed`, which skip it; the re-executed
  *     batch overwrites it.
  *   - a body that reads its own log back reads `committed(dir, below =
  *     batchId)`, so a re-run never sees its own half-written rows.
  */
object Landings {

  /** Runs `body` over every micro-batch of `srcDir`'s not-yet-checkpointed
    * parquet files, then returns (AvailableNow). The only micro-batch
    * runner in the code base.
    */
  def each(spark: SparkSession, schema: StructType, srcDir: String,
           checkpointDir: String)(body: (DataFrame, Long) => Unit): Unit =
    spark.readStream.schema(schema).parquet(srcDir)
      .writeStream
      .foreachBatch(body)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** Every `batch=<id>` directory under `dir`, committed or not, ascending —
    * what a prune sweeps. Empty when `dir` does not exist.
    */
  private[streaming] def batchIds(spark: SparkSession, dir: String): Seq[Long] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).iterator
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("batch=") => n.stripPrefix("batch=").toLong }
      .toSeq.sorted
  }

  /** The ids of the `batch=<id>` directories under `dir` whose write
    * committed (`_SUCCESS` present), ascending.
    */
  def committedIds(spark: SparkSession, dir: String): Seq[Long] = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    batchIds(spark, dir).filter(id => fs.exists(new Path(s"$dir/batch=$id/_SUCCESS")))
  }

  /** The committed batches of `dir` with id below `below`, as one frame
    * with `batch` as a column; None when none is committed.
    */
  def committed(spark: SparkSession, dir: String,
                below: Long = Long.MaxValue): Option[DataFrame] =
    committedIds(spark, dir).filter(_ < below) match {
      case Seq() => None
      case ids => Some(spark.read.option("basePath", dir)
        .parquet(ids.map(id => s"$dir/batch=$id"): _*))
    }

  /** An ingest's accumulated flag (or accept) log: every committed batch.
    * Fails if no batch has committed yet.
    */
  def readFlags(spark: SparkSession, flagsDir: String): DataFrame =
    committed(spark, flagsDir).getOrElse(throw new IllegalStateException(
      s"readFlags: no committed batch under $flagsDir — run the ingest first"))
}
