package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Data-quality gates — the reference's "assertion" surface (SURVEY §2.13
  * C1–C8), as composable checks returning `Either[Violation, Unit]` so
  * pipelines can gate on them and tests can assert them.
  *
  * Reference: `etl/checks/post-extract-check.py`, `*-dimension-check.py`,
  * `non-empty-load-check.py`, `ref-int-load-check.py`.
  */
object Checks {

  final case class Violation(check: String, detail: String)

  private def require(ok: Boolean, check: String, detail: => String): Either[Violation, Unit] =
    if (ok) Right(()) else Left(Violation(check, detail))

  /** C1 — non-empty (`etl/checks/post-extract-check.py:15-17`). */
  def nonEmpty(df: DataFrame): Either[Violation, Unit] = {
    val n = df.count()
    require(n > 0, "nonEmpty", s"expected >0 rows, got $n")
  }

  /** C2 — column-count equality (`post-extract-check.py:20-24`). */
  def columnCount(df: DataFrame, expected: Int): Either[Violation, Unit] =
    require(df.columns.length == expected, "columnCount",
      s"expected $expected columns, got ${df.columns.length}: ${df.columns.mkString(",")}")

  /** C3 — PK uniqueness via groupBy-count-filter
    * (`post-extract-check.py:27-34`; `assert_unique` in dim checks).
    */
  def primaryKey(df: DataFrame, keys: Seq[String]): Either[Violation, Unit] = {
    val dups = df.groupBy(keys.map(col): _*).count().where(col("count") > 1).count()
    require(dups == 0, "primaryKey", s"${keys.mkString(",")} has $dups duplicated key values")
  }

  /** C4 — column completeness: fraction of non-null values >= `minRatio`
    * (`post-extract-check.py:37-40`).
    */
  def completeness(df: DataFrame, column: String, minRatio: Double): Either[Violation, Unit] = {
    val row = df.agg(
      count(col(column)).as("nonnull"), count(lit(1)).as("total")).head()
    val ratio = if (row.getLong(1) == 0) 0.0 else row.getLong(0).toDouble / row.getLong(1)
    require(ratio >= minRatio, "completeness", f"$column non-null ratio $ratio%.4f < $minRatio%.4f")
  }

  /** C5 — schema equality of names and types in order, ignoring
    * nullability (the reference's RDD round-trip makes nullability
    * metadata-only; SURVEY §7.4.3). Reference: `assertSchemaEqual` in
    * `date-dimension-check.py:93-100`.
    */
  def schemaEquals(df: DataFrame, expected: StructType): Either[Violation, Unit] = {
    def norm(s: StructType): Seq[(String, String)] =
      s.fields.toSeq.map(f => (f.name, f.dataType.simpleString))
    require(norm(df.schema) == norm(expected), "schemaEquals",
      s"got ${df.schema.simpleString}, expected ${expected.simpleString}")
  }

  /** C6 — cardinality bound (`date-dimension-check.py:28-36`). */
  def cardinalityAtMost(df: DataFrame, column: String, k: Long): Either[Violation, Unit] = {
    val n = df.select(col(column)).distinct().count()
    require(n <= k, "cardinalityAtMost", s"$column has $n distinct values > $k")
  }

  /** C7 — range bound (`date-dimension-check.py:38-45`, `assert_range`). */
  def inRange(df: DataFrame, column: String, lo: Double, hi: Double): Either[Violation, Unit] = {
    val n = df.where(col(column) < lo || col(column) > hi).count()
    require(n == 0, "inRange", s"$column has $n values outside [$lo,$hi]")
  }

  /** C8 — referential integrity: distinct fact FK values with no dim PK
    * match (`ref-int-load-check.py:6-33`).
    */
  def referentialIntegrity(fact: DataFrame, fk: String, dim: DataFrame, pk: String): Either[Violation, Unit] = {
    val missing = fact.select(col(fk)).where(col(fk).isNotNull).distinct()
      .join(dim.select(col(pk).as(fk)).distinct(), Seq(fk), "left_anti").count()
    require(missing == 0, "referentialIntegrity", s"$missing $fk values missing from dim.$pk")
  }

  /** The credible epoch window (shared by `epochRangeUs` and the
    * streaming ingest gate's per-file variant).
    */
  val EpochLoUs: Long = 946684800000000L   // 2000-01-01T00:00Z
  val EpochHiUs: Long = 4102444800000000L  // 2100-01-01T00:00Z

  /** Event-time sanity: every decoded epoch-µs value lands in a credible
    * epoch window (default 2000-01-01 .. 2100-01-01). This is the
    * VALUE-level companion to the schema dispatch in `Tables.eventTimeUs`:
    * schema alone cannot tell a millisecond Long from a nanosecond Long,
    * but a 1000× unit slip moves every value out of the window (ms read as
    * ns → year 1970; µs read as ns → 1970; ns read as µs → year 55965), so
    * one aggregate pass converts silent corruption into a loud failure.
    * Deliberately ONE min/max aggregation (map-side partial, one scalar to
    * the driver) rather than a per-row raise_error branch, which would sit
    * inside whole-stage codegen on every downstream read.
    */
  def epochRangeUs(df: DataFrame, tsUsCol: String,
                   loUs: Long = EpochLoUs,
                   hiUs: Long = EpochHiUs): Either[Violation, Unit] = {
    // A guard must not itself throw on the malformed input it guards
    // against: a non-Long column (Integer seconds, Decimal millis) is
    // exactly the kind of encoding slip this check exists for, so it's a
    // Violation, not a getLong ClassCastException.
    df.schema(tsUsCol).dataType match {
      case org.apache.spark.sql.types.LongType => ()
      case other => return Left(Violation("epochRangeUs",
        s"$tsUsCol is $other, not LongType epoch-µs — decode through " +
          "Tables.eventTimeUs before range-checking"))
    }
    val row = df.agg(min(col(tsUsCol)).as("lo"), max(col(tsUsCol)).as("hi")).head()
    // min==null covers both the empty frame and the all-null column:
    // nothing to mis-decode in either (an all-null ts column is a data
    // quality question for nonEmpty/completeness checks, not a unit one).
    if (row.isNullAt(0)) Right(())
    else {
      val (lo, hi) = (row.getLong(0), row.getLong(1))
      require(lo >= loUs && hi < hiUs, "epochRangeUs",
        s"$tsUsCol spans [$lo, $hi] µs — outside the credible epoch window " +
          s"[$loUs, $hiUs); a ms/µs/ns unit confusion shifts values 1000× " +
          "and always leaves this window")
    }
  }

  /** Run a batch of checks, collecting all violations. */
  def runAll(checks: Seq[Either[Violation, Unit]]): Either[Seq[Violation], Unit] = {
    val bad = checks.collect { case Left(v) => v }
    if (bad.isEmpty) Right(()) else Left(bad)
  }
}
