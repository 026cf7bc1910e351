package graft

import org.apache.spark.sql.types._
import graft.ops.Checks

class ChecksSpec extends SparkSpec {
  import spark.implicits._

  private lazy val df = Seq((1, "a"), (2, "b"), (3, null)).toDF("id", "name")

  test("nonEmpty / columnCount") {
    assert(Checks.nonEmpty(df).isRight)
    assert(Checks.nonEmpty(df.where("id < 0")).isLeft)
    assert(Checks.columnCount(df, 2).isRight)
    assert(Checks.columnCount(df, 3).isLeft)
  }

  test("primaryKey flags duplicates") {
    assert(Checks.primaryKey(df, Seq("id")).isRight)
    assert(Checks.primaryKey(df.union(df), Seq("id")).isLeft)
  }

  test("completeness ratio") {
    assert(Checks.completeness(df, "id", 1.0).isRight)
    assert(Checks.completeness(df, "name", 1.0).isLeft)
    assert(Checks.completeness(df, "name", 0.5).isRight)
  }

  test("schemaEquals ignores nullability, not types") {
    val expected = StructType(Seq(
      StructField("id", IntegerType, nullable = true),
      StructField("name", StringType, nullable = false)))
    assert(Checks.schemaEquals(df, expected).isRight)
    assert(Checks.schemaEquals(df, expected.add("extra", StringType)).isLeft)
    assert(Checks.schemaEquals(df.selectExpr("CAST(id AS LONG) AS id", "name"), expected).isLeft)
  }

  test("cardinality / range bounds") {
    assert(Checks.cardinalityAtMost(df, "id", 3).isRight)
    assert(Checks.cardinalityAtMost(df, "id", 2).isLeft)
    assert(Checks.inRange(df, "id", 1, 3).isRight)
    assert(Checks.inRange(df, "id", 2, 3).isLeft)
  }

  test("referentialIntegrity catches dangling FKs") {
    val dim = Seq(1, 2).toDF("pk")
    assert(Checks.referentialIntegrity(df.where("id <= 2"), "id", dim, "pk").isRight)
    assert(Checks.referentialIntegrity(df, "id", dim, "pk").isLeft)
  }

  test("runAll collects all violations") {
    val res = Checks.runAll(Seq(
      Checks.nonEmpty(df), Checks.columnCount(df, 9), Checks.primaryKey(df.union(df), Seq("id"))))
    assert(res.left.toOption.get.map(_.check) == Seq("columnCount", "primaryKey"))
  }
}
