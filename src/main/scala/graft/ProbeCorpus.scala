package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ONE definition of the probe corpora's copy-explode synthesis, shared by
  * `Probe scale` / `Probe stream` / perfbench — the recipe carries real
  * semantics (id offsets by max+1 so sparse id spaces can't collide;
  * copytag APPENDED so document copies stay near-duplicates sharing their
  * prefix; per-copy TIME SHIFT so event density per band/user stays what
  * the 1× table has), and three independent implementations of it were
  * already one spread-key fix out of sync.
  */
object ProbeCorpus {

  /** documents × copies: copy i appends a distinguishing token, so copies
    * are near-duplicates (SimHash hamming tiny, shared prefix verbatim)
    * but not byte-equal. All source columns ride along.
    */
  def docsCopies(spark: SparkSession, sfDir: String, copies: Int): DataFrame = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val docIdOff = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    val others = docs.columns.filterNot(Seq("doc_id", "text").contains).map(col)
    docs.withColumn("copy", explode(sequence(lit(0), lit(copies - 1))))
      .select((col("doc_id") + col("copy") * docIdOff).as("doc_id") +:
        concat(col("text"), lit(" copytag"), col("copy")).as("text") +:
        others.toIndexedSeq: _*)
  }

  /** The events table's synthesis constants: span for the per-copy time
    * shift (+1 h so copies never touch), id offsets, source row count.
    */
  final case class EventSpan(loUs: Long, hiUs: Long, maxEventId: Long,
                             maxUserId: Long, n: Long) {
    def spanUs: Long = hiUs - loUs + 3600L * 1000000L
  }

  def eventSpan(spark: SparkSession, sfDir: String): EventSpan = {
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val tus = Tables.eventTimeUs(ev)
    val r = ev.agg(min(tus), max(tus), max(col("event_id")),
      max(col("user_id")), count(lit(1))).head()
    EventSpan(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
  }

  /** events for copies [fromCopy, untilCopy): each copy shifts by the full
    * span (+1 h) and offsets user/event ids — "longer history, more
    * users". `ntz = true` emits canonical TIMESTAMP NTZ (what a declared
    * stream schema requires); `false` leaves TimestampType (instant µs),
    * exercising the decode seam's second branch.
    */
  def eventsCopies(spark: SparkSession, sfDir: String, span: EventSpan,
                   fromCopy: Int, untilCopy: Int, ntz: Boolean): DataFrame = {
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val ts0 = timestamp_micros(
      Tables.eventTimeUs(ev) + col("copy") * span.spanUs)
    ev.withColumn("copy", explode(sequence(lit(fromCopy), lit(untilCopy - 1))))
      .select(
        (col("event_id") + col("copy") * (span.maxEventId + 1)).as("event_id"),
        (if (ntz) ts0.cast("timestamp_ntz") else ts0).as("ts"),
        (col("user_id") + col("copy") * (span.maxUserId + 1)).as("user_id"),
        col("event_type"), col("value"), col("props"))
  }
}
