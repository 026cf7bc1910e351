package graft.warehouse

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The four analytics aggregates — the warehouse's canonical query workload
  * (reference: etl/load/load_sample_aggregates.py:23-164). Each narrows the
  * fact scan to the measured columns (column pruning reaches the parquet
  * reader), aggregates with map-side partials, and lands in the analytics
  * schema.
  */
object Aggregates {

  def perMonth(spark: SparkSession, factTable: String): DataFrame =
    spark.table(factTable)
      .select("IncidentNumber", "NotionalCost", "NumCalls", "DateOfCall")
      .withColumn("Year", year(col("DateOfCall")))
      .withColumn("Month", month(col("DateOfCall")))
      .withColumn("YearMonth", date_format(col("DateOfCall"), "yyyy-MM"))
      .groupBy("Year", "Month", "YearMonth")
      .agg(count("IncidentNumber").as("IncidentCount"),
        sum("NotionalCost").as("TotalCost"),
        avg("NotionalCost").as("AvgCost"),
        sum("NumCalls").as("TotalCalls"))
      .withColumn("AvgCost", round(col("AvgCost"), 2))
      .orderBy("Year", "Month")

  def perWard(spark: SparkSession, factTable: String): DataFrame =
    spark.table(factTable)
      .select("IncidentNumber", "NotionalCost", "NumCalls",
        "FirstPumpAttendanceTime", "WardID")
      .groupBy("WardID")
      .agg(count("IncidentNumber").as("IncidentCount"),
        sum("NotionalCost").as("TotalCost"),
        avg("NotionalCost").as("AvgIncidentCost"),
        sum("NumCalls").as("TotalCalls"),
        avg("FirstPumpAttendanceTime").as("AvgResponseTime"))
      .withColumn("AvgResponseTime", round(col("AvgResponseTime"), 2))
      .orderBy(desc("IncidentCount"))

  def typesPerWard(spark: SparkSession, factTable: String): DataFrame =
    spark.table(factTable)
      .select("IncidentNumber", "NotionalCost", "WardID", "IncidentTypeKey")
      .groupBy("WardID", "IncidentTypeKey")
      .agg(count("IncidentNumber").as("IncidentCount"),
        sum("NotionalCost").as("TotalCost"),
        avg("NotionalCost").as("AvgCost"))
      .withColumn("AvgCost", round(col("AvgCost"), 2))
      .orderBy(col("WardID"), desc("IncidentCount"))

  def perLocationType(spark: SparkSession, factTable: String): DataFrame =
    spark.table(factTable)
      .select("IncidentNumber", "NotionalCost", "PumpsAttending",
        "FirstPumpAttendanceTime", "LocationTypeKey")
      .filter(col("FirstPumpAttendanceTime").isNotNull &&
        col("FirstPumpAttendanceTime") > 0)
      .groupBy("LocationTypeKey")
      .agg(count("IncidentNumber").as("IncidentCount"),
        avg("FirstPumpAttendanceTime").as("AvgResponseTimeMinutes"),
        sum("NotionalCost").as("TotalCost"),
        avg("NotionalCost").as("AvgCost"),
        sum("PumpsAttending").as("TotalPumpsAttending"),
        avg("PumpsAttending").as("AvgPumpsAttending"))
      .withColumn("AvgResponseTimeMinutes", round(col("AvgResponseTimeMinutes"), 2))
      .withColumn("AvgCost", round(col("AvgCost"), 2))
      .withColumn("AvgPumpsAttending", round(col("AvgPumpsAttending"), 2))
      .orderBy(desc("AvgResponseTimeMinutes"))

  /** Build all four into `<schema>.<name>` catalog tables; the four writes
    * are independent and run concurrently. */
  def run(spark: SparkSession, factTable: String, outputSchema: String): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $outputSchema")
    val tables = Seq(
      "per_month" -> perMonth(spark, factTable),
      "per_ward" -> perWard(spark, factTable),
      "types_per_ward" -> typesPerWard(spark, factTable),
      "per_location_type" -> perLocationType(spark, factTable))
    graft.Sessions.concurrently(tables.map { case (name, df) => () =>
      graft.ops.Relational.prepareManagedOverwrite(spark, s"$outputSchema.$name")
      df.write.mode("overwrite").format("parquet").saveAsTable(s"$outputSchema.$name")
    })
  }
}
