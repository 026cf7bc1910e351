package graft

import org.apache.spark.sql.functions._
import graft.functions.BloomMightContainF

class BloomFSpec extends SparkSpec {
  import spark.implicits._

  test("bloom probe: no false negatives; fpp near nominal on non-members") {
    val members = spark.range(0, 10000).select((col("id") * 2).as("k"))
    val bloom = members.stat.bloomFilter("k", 10000, 0.01)
    // every member must pass (bloom filters cannot false-negative)
    val missed = members.where(!BloomMightContainF(col("k"), bloom)).count()
    assert(missed == 0)
    // odd keys are all non-members: pass rate == false-positive rate
    val nonMembers = spark.range(0, 10000).select((col("id") * 2 + 1).as("k"))
    val fp = nonMembers.where(BloomMightContainF(col("k"), bloom)).count()
    assert(fp < 500, s"fp=$fp way above the 1% nominal rate")
  }

  test("bloom probe agrees between codegen and interpreted eval") {
    val members = spark.range(0, 100).select(col("id").as("k"))
    val bloom = members.stat.bloomFilter("k", 100, 0.03)
    val probe = spark.range(0, 1000).select(col("id").as("k"))
    val viaPlan = probe.where(BloomMightContainF(col("k"), bloom))
      .as[Long].collect().toSet
    val bytes = { // round-trip through serialization like the expression does
      val out = new java.io.ByteArrayOutputStream(); bloom.writeTo(out)
      org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(out.toByteArray))
    }
    val direct = (0L until 1000L).filter(bytes.mightContainLong).toSet
    assert(viaPlan == direct)
  }

  test("x1b bloom-prefiltered decontamination equals the exact x1 result") {
    val reg = graft.queries.TextQueries.all.toMap
    val exact = reg("x1_decontaminate").fn(spark, Sf0001)
    val bloomed = reg("x1b_bloom_decontaminate").fn(spark, Sf0001)
    assert(exact.exceptAll(bloomed).count() == 0)
    assert(bloomed.exceptAll(exact).count() == 0)
  }
}
