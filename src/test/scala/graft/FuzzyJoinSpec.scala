package graft

import org.apache.spark.sql.functions._
import graft.ops.TextOps

/** TextOps.editDistanceJoin (PassJoin-style segment blocking) must equal
  * the brute-force all-pairs levenshtein filter — including indel-shifted
  * segments, the short-string slivers, and the tau boundary. The t22 gate
  * checks the same identity cross-engine against DuckDB's levenshtein.
  */
class FuzzyJoinSpec extends SparkSpec {
  import spark.implicits._

  private def brute(df: org.apache.spark.sql.DataFrame, tau: Int) =
    df.select(col("id").as("id1"), col("s").as("s1"))
      .join(df.select(col("id").as("id2"), col("s").as("s2")),
        col("id1") < col("id2"))
      .withColumn("dist", levenshtein(col("s1"), col("s2")).cast("long"))
      .where(col("dist") <= tau)
      .select("id1", "id2", "dist")

  test("blocked join == brute force on the sf0.001 corpus prefixes") {
    val t = Tables.load(spark, Sf0001, "documents")
      .select(col("doc_id").as("id"), substring(col("text"), 1, 30).as("s"))
    val got = TextOps.editDistanceJoin(t, "id", "s", 2)
    val want = brute(t, 2)
    assert(got.count() > 0) // discriminative: the corpus has near-dup prefixes
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
  }

  test("indel shifts, short strings, and the tau boundary are all exact") {
    val rows = Seq(
      1L -> "abcdefghij",
      2L -> "Xabcdefghij", // 1 insertion at front: every segment shifts
      3L -> "abcdefghijXY", // 2 insertions at end
      4L -> "abcdefghijXYZ", // 3 edits from id 1: outside tau
      5L -> "abcXdefgYhij", // 2 inserts mid-string shift later segments
      6L -> "", // short sliver
      7L -> "ab", // short sliver; (6,7) is a short-short pair
      8L -> "abcd", // long side of the short-long pair (7,8)
      9L -> "zzzzzzzzzz")
    val t = rows.toDF("id", "s")
    // 10-char fixture strings sit below the selectivity floor by design
    // (the test is about exactness, not scale) — override documented.
    val got = TextOps.editDistanceJoin(t, "id", "s", 2, allowRiskyBlocking = true)
    assert(got.except(brute(t, 2)).isEmpty && brute(t, 2).except(got).isEmpty)
    val pairs = got.select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs((1L, 2L)) && pairs((1L, 3L)) && pairs((1L, 5L)))
    assert(pairs((6L, 7L)) && pairs((7L, 8L)))
    assert(!pairs((1L, 4L)))
  }

  test("multi-match-aware windows lose no pair on a dense two-letter corpus") {
    // The r22 refinement replaces the loose [-tau, tau] probe-shift window
    // with PassJoin's multi-match-aware interval; a dense small-alphabet
    // corpus maximizes near pairs across every (length delta, segment,
    // shift) combination, so any under-selected window shows up as a
    // missing pair against brute force.
    val rng = new scala.util.Random(4242)
    val rows = (1L to 300L).map { id =>
      val len = 9 + rng.nextInt(6) // 9..14, straddling seg boundaries
      id -> Array.fill(len)(if (rng.nextBoolean()) 'a' else 'b').mkString
    }
    val t = rows.toDF("id", "s")
    val got = TextOps.editDistanceJoin(t, "id", "s", 2, allowRiskyBlocking = true)
    val want = brute(t, 2)
    assert(want.count() > 1000) // dense by construction — discriminative
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
    // and tau=1 exercises the tightest windows (j ∈ {0,1}, d intervals of
    // width ≤ 2)
    val got1 = TextOps.editDistanceJoin(t, "id", "s", 1, allowRiskyBlocking = true)
    val want1 = brute(t, 1)
    assert(got1.except(want1).isEmpty && want1.except(got1).isEmpty)
  }

  test("blocking guard enforces the measured selectivity floor") {
    // tau=3 over 30-char prefixes = 7-char segments: SCALE.md's r12 sweep
    // measured this regime quadratic (736 -> 2,209 cand/row at 3x rows) —
    // the operator must refuse it loudly instead of shipping an
    // all-pairs-shaped shuffle to a cluster.
    val t30 = Tables.load(spark, Sf0001, "documents")
      .select(col("doc_id").as("id"), substring(col("text"), 1, 30).as("s"))
    val e = intercept[IllegalArgumentException] {
      TextOps.editDistanceJoin(t30, "id", "s", 3).count()
    }
    assert(e.getMessage.contains("selectivity floor"))
    // ...but the override lets a probe measure the regime on purpose,
    assert(TextOps.editDistanceJoin(t30, "id", "s", 3,
      allowRiskyBlocking = true).count() > 0)
    // ...tau=3 over 80-char prefixes (20-char segments, measured 5.6
    // cand/row at 100x) passes the guard,
    val t80 = Tables.load(spark, Sf0001, "documents")
      .select(col("doc_id").as("id"), substring(col("text"), 1, 80).as("s"))
    TextOps.editDistanceJoin(t80, "id", "s", 3).count()
    // ...and the gate's own prefix-30/tau=2 config (exactly 10-char
    // segments) sits ON the floor and must keep passing.
    TextOps.editDistanceJoin(t30, "id", "s", 2).count()
  }
}
