package graft.warehouse

import org.scalatest.funsuite.AnyFunSuite

/** The warehouse runner's pure argument parser: every invalid invocation
  * fails before a session or a file exists. No Spark here. */
class PipelineDemoSpec extends AnyFunSuite {

  import PipelineDemo.{Run, parse}

  private def rejects(args: String*): String =
    intercept[IllegalArgumentException](parse(args)).getMessage

  test("one valid line per mode parses to its Run") {
    assert(parse(Nil) == Run())
    assert(parse(Seq("/w", "--rows", "150000000")) ==
      Run(workDir = Some("/w"), rows = Some(150000000)))
    assert(parse(Seq("/w", "--from", "fact load", "--slices", "4", "--compact")) ==
      Run(workDir = Some("/w"), from = Some("fact load"),
        plan = FactLoad.Plan(4, compact = true)))
    assert(parse(Seq("/w", "--rows", "3000", "--chunks", "3")) ==
      Run(workDir = Some("/w"), rows = Some(3000), chunks = Some(3)))
    assert(parse(Seq("--direct-clean", "--skew", "--rows", "500", "/w", "--slices", "2")) ==
      Run(workDir = Some("/w"), rows = Some(500), directClean = true, skew = true,
        plan = FactLoad.Plan(2)))
  }

  test("a workDir equal to a flag's value is kept") {
    assert(parse(Seq("4", "--rows", "4")).workDir.contains("4"))
    assert(parse(Seq("--rows", "4", "4")).workDir.contains("4"))
    assert(parse(Seq("--slices", "2", "2")) == Run(workDir = Some("2"), plan = FactLoad.Plan(2)))
  }

  test("--slices and --compact map to the fact load's Plan") {
    assert(parse(Nil).plan == FactLoad.Plan())
    assert(parse(Seq("--slices", "3", "--compact")).plan == FactLoad.Plan(3, compact = true))
    assert(parse(Seq("--compact", "--slices", "3")).plan == FactLoad.Plan(3, compact = true))
  }

  test("a flag without its value, or an unknown flag, fails") {
    assert(rejects("/w", "--rows").contains("--rows needs a value"))
    assert(rejects("/w", "--from").contains("--from needs a value"))
    assert(rejects("/w", "--row", "1000").contains("unknown flag '--row'"))
    assert(rejects("/w", "/v").contains("more than one workDir"))
  }

  test("counts must be integers of at least 1") {
    assert(rejects("--rows", "abc").contains("integer"))
    assert(rejects("--rows", "3000000000").contains("integer"))
    assert(rejects("--rows", "0").contains("at least 1"))
    assert(rejects("/w", "--rows", "10", "--chunks", "0").contains("at least 1"))
    assert(rejects("--slices", "-2").contains("at least 1"))
  }

  test("an unknown --from stage fails, listing the stages") {
    val msg = rejects("/w", "--from", "facts")
    assert(msg.contains("'facts'"))
    Pipeline.stageOrder.foreach(s => assert(msg.contains(s), s"$s missing from: $msg"))
  }

  test("illegal flag combinations fail") {
    assert(rejects("/w", "--chunks", "2").contains("--chunks needs --rows"))
    assert(rejects("/w", "--rows", "2", "--chunks", "3").contains("must not exceed"))
    assert(rejects("/w", "--rows", "9", "--chunks", "3", "--from", "cleanse")
      .contains("cannot be combined"))
    assert(rejects("/w", "--rows", "9", "--chunks", "3", "--direct-clean")
      .contains("cannot be combined"))
    assert(rejects("/w", "--direct-clean").contains("--direct-clean needs --rows"))
    assert(rejects("/w", "--rows", "9", "--direct-clean", "--from", "fact load")
      .contains("--direct-clean cannot be combined with --from"))
    assert(rejects("/w", "--rows", "9", "--skew").contains("--skew needs --direct-clean"))
    assert(rejects("/w", "--compact").contains("--compact needs --slices"))
    assert(rejects("/w", "--slices", "1", "--compact").contains("--compact needs --slices"))
    assert(rejects("--rows", "9", "--chunks", "3").contains("explicit workDir"))
    assert(rejects("--rows", "9", "--direct-clean").contains("explicit workDir"))
  }
}
