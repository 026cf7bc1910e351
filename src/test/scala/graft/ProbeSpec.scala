package graft

import org.apache.spark.sql.functions._

/** `graft.Probe`'s shared plan-forcing helper and its pure argument
  * parser: every invalid input must fail before a session is built. */
class ProbeSpec extends SparkSpec {

  private val sf = Some("corpus")
  private def rejects(args: String*): IllegalArgumentException =
    intercept[IllegalArgumentException](Probe.parse(args, sf))

  test("force evaluates every output column; count() prunes them") {
    val calls = spark.sparkContext.longAccumulator("probe_udf_calls")
    val twice = udf((x: Long) => { calls.add(1); x * 2 })
    val df = spark.range(100).select(twice(col("id")).as("y"))
    assert(df.count() == 100)
    assert(calls.value == 0, "count() pruned the projection")
    assert(Probe.force(df) == 100)
    assert(calls.value == 100, "force evaluated the UDF once per row")
  }

  test("counts below one are rejected") {
    assert(rejects("query", "a1_pricing_summary", "0").getMessage.contains("runs"))
    assert(rejects("stream", "sf", "10", "0").getMessage.contains("landings"))
    assert(rejects("stream", "sf", "0", "1").getMessage.contains("copies"))
    assert(rejects("scale", "sf", "0").getMessage.contains("copies"))
    assert(rejects("scale", "sf", "-1").getMessage.contains("copies"))
    assert(rejects("zorder", "sf", "0").getMessage.contains("files"))
    assert(rejects("zorder", "sf", "16", "0").getMessage.contains("copies"))
    assert(rejects("query", "a1_pricing_summary", "three").getMessage.contains("integer"))
  }

  test("stream copies must divide evenly into landings") {
    assert(rejects("stream", "sf", "10", "3").getMessage.contains("multiple"))
    assert(Probe.parse(Seq("stream", "sf", "10", "5"), None) == Probe.Stream("sf", 10, 5))
  }

  test("unknown gate names are rejected by every subcommand that takes them") {
    assert(rejects("query", "a1_pricing_summary,nope").getMessage.contains("nope"))
    assert(rejects("scale", "sf", "only=e7b,nope").getMessage.contains("nope"))
    // a registry gate that scale does not synthesize a corpus for
    assert(rejects("scale", "sf", "only=a1_pricing_summary").getMessage
      .contains("a1_pricing_summary"))
    assert(rejects("plan", "out", "before", "nope").getMessage.contains("nope"))
    assert(rejects("plan", "out", "before", "cc_live").getMessage.contains("cc_live"))
    assert(rejects("query", ",").getMessage.contains("at least one"))
    assert(rejects("scale", "sf", "only=").getMessage.contains("at least one"))
  }

  test("flags and arguments a subcommand does not take are rejected") {
    assert(rejects("query", "a1_pricing_summary", "light").getMessage.contains("light"))
    assert(rejects("stream", "sf", "10", "10", "extra").getMessage.contains("at most"))
    assert(rejects("compact").getMessage.contains("workDir"))
  }

  test("query and plan need SPARK_GRAFT_SF_DIR") {
    val e = intercept[IllegalArgumentException](
      Probe.parse(Seq("query", "a1_pricing_summary"), None))
    assert(e.getMessage.contains("SPARK_GRAFT_SF_DIR"))
  }

  test("an unknown subcommand names all six") {
    val msg = rejects("recall").getMessage
    for (s <- Seq("scale", "stream", "query", "plan", "zorder", "compact"))
      assert(msg.contains(s), s"$s missing from: $msg")
  }

  test("gate names resolve by full name or leading code, live rows included") {
    val Probe.Scale(_, 1, true, Some(only)) =
      Probe.parse(Seq("scale", "sf", "1", "light", "only=e7b,cc_live"), None)
    assert(only == Seq("e7b_binary_banded_neardup", "cc_live"))
    val q = Probe.parse(Seq("query", "cc_live,a1_pricing_summary", "3", "nowarm"), sf)
    assert(q == Probe.Query("corpus", Seq("cc_live", "a1_pricing_summary"), 3,
      explain = false, nowarm = true))
    val Probe.Plan(_, _, _, all) = Probe.parse(Seq("plan", "out", "tag", "all"), sf)
    assert(all == SparkEntry.registry.map(_._1))
  }
}
